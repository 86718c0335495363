"""Expected outputs, and the comparisons that turn a mismatch into a
failed operation.

Validation totals are computed with DuckDB. The SQL restates the
flagship contract's field rules independently of the engine's compiler:
one row per input turn, one 0/1 column per error type, grouped by
bucket. Dedup and top-k results are checked against the ground truth
the corpus generator records (``inputs.write_corpus``).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

ROLE_VALUES = ("system", "user", "assistant", "tool")

# error type -> SQL condition (NULL-safe: required-field nulls are their own type)
_ERRORS = {
    "REQUIRED_FIELD_MISSING": (
        "(conv_id IS NULL)::INT + (turn_idx IS NULL)::INT + (role IS NULL)::INT"
        " + (text IS NULL)::INT + (ts IS NULL)::INT"
    ),
    "PATTERN_MISMATCH": "coalesce(NOT regexp_matches(conv_id, '^conv_\\d+$'), false)::INT",
    "VALUE_TOO_SMALL": "coalesce(turn_idx < 0, false)::INT",
    "ENUM_MISMATCH": "coalesce(role NOT IN {roles}, false)::INT",
    "LENGTH_TOO_SHORT": "coalesce(length(text) < 1, false)::INT",
    "LENGTH_TOO_LONG": "coalesce(length(text) > 10000, false)::INT",
    "TIMESTAMP_TOO_OLD": "coalesce(ts < TIMESTAMP '2020-01-01 00:00:00', false)::INT",
}


def expected_by_group(
    parquet_dir: str, group_col: str, tool_vocab: Sequence[str]
) -> Dict[str, dict]:
    """{group value: {total, passed, failed, errors, violation_rows,
    dup_keys, ref_role, ref_tool}} over a hive-partitioned parquet dir."""
    import duckdb

    roles = "(" + ", ".join(f"'{r}'" for r in ROLE_VALUES) + ")"
    tools = "(" + ", ".join(f"'{t}'" for t in tool_vocab) + ")"
    err_cols = ",\n".join(
        f"{cond.format(roles=roles)} AS \"{et}\"" for et, cond in _ERRORS.items()
    )
    n_err = " + ".join(f'"{et}"' for et in _ERRORS)
    src = f"read_parquet('{parquet_dir}/**/*.parquet', hive_partitioning = true)"
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    try:
        con.execute("SET TimeZone = 'UTC'")
        rows = con.execute(
            f"""
            WITH t AS (
              SELECT CAST({group_col} AS VARCHAR) AS g, conv_id, turn_idx,
                     coalesce(role NOT IN {roles}, false)::INT AS ref_role,
                     coalesce(tool NOT IN {tools}, false)::INT AS ref_tool,
                     {err_cols}
              FROM {src}
            ), e AS (SELECT *, {n_err} AS n_err FROM t),
            dups AS (
              SELECT g, count(*) AS dup_keys FROM (
                SELECT g, conv_id, turn_idx FROM e GROUP BY ALL HAVING count(*) > 1
              ) GROUP BY g
            )
            SELECT e.g, count(*) AS total, sum((n_err = 0)::INT) AS passed,
                   sum(n_err) AS violation_rows,
                   sum(ref_role) AS ref_role, sum(ref_tool) AS ref_tool,
                   {", ".join(f'sum("{et}")' for et in _ERRORS)},
                   coalesce(any_value(d.dup_keys), 0) AS dup_keys
            FROM e LEFT JOIN dups d ON d.g = e.g
            GROUP BY e.g
            """
        ).fetchall()
    finally:
        con.close()
    out = {}
    for r in rows:
        g, total, passed, vrows, ref_role, ref_tool = r[:6]
        errs = {et: int(n) for et, n in zip(_ERRORS, r[6:6 + len(_ERRORS)]) if n}
        out[g] = {
            "total": int(total), "passed": int(passed), "failed": int(total - passed),
            "violation_rows": int(vrows), "errors": errs,
            "ref_role": int(ref_role), "ref_tool": int(ref_tool),
            "dup_keys": int(r[-1]),
        }
    return out


def expected_for_input(parquet_dir: str, group_col: str, tool_vocab: Sequence[str],
                       n_rows: int) -> Dict[str, dict]:
    """:func:`expected_by_group`, refusing an input without exactly
    ``n_rows`` rows (a generator that came up short)."""
    exp = expected_by_group(parquet_dir, group_col, tool_vocab)
    got = sum(g["total"] for g in exp.values())
    if got != n_rows:
        raise RuntimeError(f"generated input has {got} rows, expected {n_rows}")
    return exp


def combine(parts: Sequence[dict]) -> dict:
    """Sum per-group expectations into one, for a unit of work spanning
    several groups. Valid when duplicate keys never span groups, as
    buckets are a function of the key."""
    out = {"total": 0, "passed": 0, "failed": 0, "violation_rows": 0,
           "errors": {}, "ref_role": 0, "ref_tool": 0, "dup_keys": 0}
    for p in parts:
        for k in ("total", "passed", "failed", "violation_rows", "ref_role",
                  "ref_tool", "dup_keys"):
            out[k] += p[k]
        for et, n in p["errors"].items():
            out["errors"][et] = out["errors"].get(et, 0) + n
    return out


def report_mismatches(rep, exp: dict) -> List[str]:
    """Every difference between a ``BatchReport`` and its expectation."""
    bad = []

    def check(name, got, want):
        if got != want:
            bad.append(f"{name}: got {got!r}, expected {want!r}")

    check("total_records", rep.total_records, exp["total"])
    check("passed", rep.passed, exp["passed"])
    check("failed", rep.failed, exp["failed"])
    check("errors_summary", dict(rep.errors_summary), exp["errors"])
    check("total_violation_rows", rep.total_violation_rows, exp["violation_rows"])
    if rep.quality is None:
        bad.append("quality stage did not run")
        return bad
    got_dup: Optional[int] = None
    got_ref: Dict[str, int] = {}
    for e in rep.quality.errors:
        if e.rule_type == "UNIQUENESS":
            got_dup = e.details.get("duplicate_count")
        elif e.rule_type == "REFERENTIAL":
            got_ref[e.details.get("field")] = e.details.get("invalid_count")
    check("duplicate (conv_id, turn_idx) keys", got_dup or 0, exp["dup_keys"])
    check("referential misses on role", got_ref.get("role", 0), exp["ref_role"])
    check("referential misses on tool", got_ref.get("tool", 0), exp["ref_tool"])
    return bad


# MinHash with 8 bands of 4 hashes makes a pair at Jaccard 0.8 a candidate
# with probability 0.985 and at 0.89 (the corpus's lowest) with 0.9996,
# so a correct run finds nearly every pair; identical documents always.
MIN_PAIR_RECALL = 0.98
SIM_TOL = 1e-6


def dedup_mismatches(got: Dict[str, float], truth: dict) -> List[str]:
    """Near-duplicate pairs ``{"a,b": jaccard}`` against the corpus truth:
    every reported pair is a true pair with its exact Jaccard, every
    identical pair is found, and recall of the planted pairs and of all
    true pairs is at least ``MIN_PAIR_RECALL``."""
    bad = []
    want = truth["pairs"]
    wrong = [p for p, j in got.items() if p not in want or abs(j - want[p]) > 1e-9]
    if wrong:
        bad.append(f"{len(wrong)} reported pairs are not true pairs at their Jaccard, "
                   f"e.g. {wrong[:3]}")
    lost = [p for p, j in want.items() if j >= 1.0 and p not in got]
    if lost:
        bad.append(f"{len(lost)} identical pairs missed, e.g. {lost[:3]}")
    for name, pairs in (("planted", truth["planted"]), ("true", list(want))):
        found = sum(1 for p in pairs if p in got)
        if found < MIN_PAIR_RECALL * len(pairs):
            bad.append(f"found {found} of {len(pairs)} {name} pairs")
    return bad


def topk_mismatches(label: str, got: Sequence[tuple], q: int, sims,
                    want_sims: Optional[Sequence[float]] = None) -> List[str]:
    """A top-k result ``[(id, sim), ...]`` for query vector ``q``: ids are
    distinct, each sim is that vector's true cosine (``sims[id]``), the
    list is in descending order and starts with the query itself; with
    ``want_sims`` (an exact search), its sims are those of the true top-k."""
    bad = []
    ids = [i for i, _ in got]
    if len(set(ids)) != len(ids):
        bad.append(f"{label}: repeated ids {ids}")
    off = [(i, s) for i, s in got if abs(s - float(sims[i])) > SIM_TOL]
    if off:
        bad.append(f"{label}: sims differ from the true cosine, e.g. {off[:3]}")
    if any(a[1] < b[1] for a, b in zip(got, got[1:])):
        bad.append(f"{label}: not in descending order")
    if not ids or ids[0] != q:
        bad.append(f"{label}: top-1 is {ids[:1]}, query vector is {q}")
    if want_sims is not None:
        got_sims = [s for _, s in got]
        if len(got_sims) != len(want_sims) or any(
            abs(a - b) > SIM_TOL for a, b in zip(got_sims, want_sims)
        ):
            bad.append(f"{label}: sims {got_sims} are not the exact top-k {list(want_sims)}")
    return bad


class OpLedger:
    """Counts operations attempted and failed; a failed operation is one
    that raised or whose output disagreed with the oracle."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []

    def record(self, label: str, problems: Sequence[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.append(f"{label}: " + "; ".join(problems))
        return not problems

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
