"""Checkpoint / resume: partition-granular re-runs validate only
unfinished partitions; lineage change invalidates old checkpoints."""

import pytest
from pyspark.sql import functions as F

from data_contract_engine_spark import ContractEngine, parse_contract_yaml
from data_contract_engine_spark.checkpoint import (
    CheckpointStore,
    lineage_hash,
    validate_resumable,
)

CONTRACT = """
contract_version: "1.0"
schema:
  conv_id: {type: string, required: true}
  turn_idx: {type: integer, required: true, min: 0}
"""


@pytest.fixture()
def data(spark):
    rows = [(f"conv_{i % 4}", i // 4 if i != 7 else -1) for i in range(40)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int")


def test_resume_skips_done_partitions(spark, data, tmp_path):
    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="ckpt-test")
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))

    # first run: only partitions conv_0 / conv_1 are "reachable"
    half = data.filter(F.col("conv_id").isin("conv_0", "conv_1"))
    r1 = validate_resumable(
        eng, half, contract, store, run_id="r1", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r1.validated_now == 2 and r1.skipped == 0

    # resume over the full input: the two done partitions are skipped
    r2 = validate_resumable(
        eng, data, contract, store, run_id="r1", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r2.skipped == 2 and r2.validated_now == 2
    # only pending partitions were scanned
    scanned = {
        r["conv_id"] for r in r2.run.validated.select("conv_id").distinct().collect()
    }
    assert scanned == {"conv_2", "conv_3"}

    # fully done → no work
    r3 = validate_resumable(
        eng, data, contract, store, run_id="r1", partition_col="conv_id",
        ts_col=None,
    )
    assert r3.run is None and r3.skipped == 4

    # progress table carries per-partition stats incl. the failed row
    prog = {
        r["partition_key"]: r for r in store.progress("r1").collect()
    }
    assert len(prog) == 4
    assert prog["conv_3"]["failed"] == 1  # turn_idx == -1 lives in conv_3
    assert prog["conv_0"]["failed"] == 0


def test_lineage_change_invalidates(spark, data, tmp_path):
    eng = ContractEngine(spark)
    c1 = parse_contract_yaml(CONTRACT, name="ckpt-test")
    store = CheckpointStore(spark, str(tmp_path / "ckpt2"))
    validate_resumable(
        eng, data, c1, store, run_id="r1", partition_col="conv_id", ts_col=None
    )
    # same run id, changed contract → all partitions re-validate
    c2 = parse_contract_yaml(CONTRACT.replace("min: 0", "min: 1"), name="ckpt-test")
    assert lineage_hash(c1) != lineage_hash(c2)
    r = validate_resumable(
        eng, data, c2, store, run_id="r1", partition_col="conv_id", ts_col=None
    )
    assert r.skipped == 0 and r.validated_now == 4


def test_resumable_violations_written_before_checkpoint(spark, data, tmp_path):
    """Crash-safety ordering: violations land (partitioned, idempotent
    overwrite) before the checkpoint flips; resume does not clobber
    prior partitions' violations."""
    from pyspark.sql import functions as F

    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="ckpt-v")
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    vout = str(tmp_path / "viol")

    half = data.filter(F.col("conv_id").isin("conv_2", "conv_3"))
    validate_resumable(
        eng, half, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
        violations_out=vout,
    )
    v1 = spark.read.parquet(vout)
    assert v1.count() == 1  # the turn_idx=-1 row lives in conv_3
    assert "conv_id" in v1.columns

    # resume over the full input: only new partitions written, old kept
    validate_resumable(
        eng, data, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
        violations_out=vout,
    )
    v2 = spark.read.parquet(vout)
    assert v2.count() == 1  # conv_0/conv_1 clean; conv_3's row preserved
    assert {r["conv_id"] for r in v2.collect()} == {"conv_3"}


def test_resumable_violations_partitioned_when_partition_col_not_a_key(
    spark, data, tmp_path
):
    """The partition column is ALWAYS projected into the violations frame
    (from run.validated) so the write stays partitioned + idempotent even
    when partition_col is not among the violation key columns — a resume
    must never clobber completed partitions' violations."""
    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="ckpt-v2")
    store = CheckpointStore(spark, str(tmp_path / "ck2"))
    vout = str(tmp_path / "viol2")

    only3 = data.filter(F.col("conv_id") == "conv_3")
    validate_resumable(
        eng, only3, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["turn_idx"], ts_col=None, violations_out=vout,
    )
    v1 = spark.read.parquet(vout)
    assert v1.count() == 1
    assert "conv_id" in v1.columns  # projected despite not being a key

    # resume over the full input (conv_3 done, others clean): the write of
    # an empty violations frame must not wipe conv_3's partition
    validate_resumable(
        eng, data, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["turn_idx"], ts_col=None, violations_out=vout,
    )
    v2 = spark.read.parquet(vout)
    assert {r["conv_id"] for r in v2.collect()} == {"conv_3"}


def test_curate_resumable_kill_and_resume(spark, tmp_path):
    """Kill-and-resume parity: run phase 1 over a SUBSET of partitions
    (simulating a preemption after some partitions checkpointed), resume
    over the full input, and the final pack layout must be byte-identical
    to the one-shot funnel — with the second run validating only the
    unfinished partitions."""
    from data_contract_engine_spark.operators import curation

    rows = [
        (i, f"p{i % 4}",
         ("the quick brown fox jumps over the lazy dog number %d ok" % i)
         if i % 5 else "dup dup dup shared text across partitions wow ok")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, part string, text string")
    bench = spark.createDataFrame(
        [(1000, "the benchmark eval question text nothing matches here")],
        "doc_id long, text string",
    )
    store = CheckpointStore(spark, str(tmp_path / "ck_cur"))
    cand = str(tmp_path / "cand")
    kw = dict(
        k=3, frac_threshold=0.5, quality_threshold=0.0, sample_rate=0.5,
        budget=32, n_shards=4,
    )

    # "crashed" first attempt: only p0/p1 reached DONE
    out1, st1 = curation.curate_corpus_resumable(
        df.filter(F.col("part").isin("p0", "p1")), bench, store, "run1",
        "part", cand, all_partitions=["p0", "p1"], **kw,
    )
    out1.collect()  # materialize phase 1 writes
    assert st1.pending_before == 2 and st1.skipped == 0

    # resume over the FULL input: only p2/p3 are pending
    out2, st2 = curation.curate_corpus_resumable(
        df, bench, store, "run1", "part", cand, **kw
    )
    assert st2.skipped == 2 and st2.pending_before == 2
    resumed = sorted(map(tuple, out2.collect()))

    # third call: nothing pending, pure phase-2 replay
    out3, st3 = curation.curate_corpus_resumable(
        df, bench, store, "run1", "part", cand, **kw
    )
    assert st3.pending_before == 0 and st3.skipped == 4
    assert sorted(map(tuple, out3.collect())) == resumed

    oneshot = sorted(
        map(tuple, curation.curate_corpus(df.drop("part"), bench, **kw)
            .collect())
    )
    assert resumed == oneshot
    assert len(resumed) > 0

    # changed funnel params ⇒ different lineage ⇒ full re-run — into the
    # SAME candidates_out root. The (run_id, lineage) namespacing must
    # keep run1's candidate partitions invisible: with a quality bar no
    # doc clears, the result is EMPTY, never stale rows from the old
    # lineage (round-4 advice: dynamic overwrite only rewrites non-empty
    # partitions, so an un-namespaced dir would leak them).
    store2 = CheckpointStore(spark, str(tmp_path / "ck_cur"))
    kw2 = dict(kw, quality_threshold=101.0)
    out4, st4 = curation.curate_corpus_resumable(
        df, bench, store2, "run1", "part", cand, **kw2
    )
    assert st4.pending_before == 4
    assert out4.count() == 0
    # and a phase-2-only replay of the empty lineage stays empty too
    out5, st5 = curation.curate_corpus_resumable(
        df, bench, store2, "run1", "part", cand, **kw2
    )
    assert st5.pending_before == 0 and out5.count() == 0


def _fused_collects(monkeypatch):
    """Record every collected frame that carries the fused report
    aggregate (its ``__passed`` counter)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    seen = []
    real = ClassicDF.collect

    def spy(frame):
        if "__passed" in frame.columns:
            seen.append(frame)
        return real(frame)

    monkeypatch.setattr(ClassicDF, "collect", spy)
    return seen


def _assert_same_report(got, want):
    for f in ("total_records", "passed", "failed", "total_violation_rows"):
        assert getattr(got, f) == getattr(want, f), f
    assert got.pass_rate == want.pass_rate
    assert got.errors_summary == want.errors_summary
    assert got.sample_errors == want.sample_errors
    assert got.quality.passed == want.quality.passed
    assert got.quality.quality_score == want.quality.quality_score
    assert len(got.quality.errors) == len(want.quality.errors)
    for g, w in zip(got.quality.errors, want.quality.errors):
        assert (g.rule_type, g.severity, g.message) == (
            w.rule_type, w.severity, w.message
        )
        assert g.details.keys() == w.details.keys()
        for k, v in w.details.items():
            if isinstance(v, float):
                # observed and shuffled partial merges may differ in the
                # last ulp
                assert g.details[k] == pytest.approx(v, rel=1e-9), k
            else:
                assert g.details[k] == v, k


@pytest.fixture()
def flagship(spark):
    """A transcripts sample under the flagship contract, with a drift
    baseline from a differently shaped sample (PSI floats in the report)
    and a table-backed tool vocabulary."""
    from data_contract_engine_spark.fixtures.transcripts import (
        FLAGSHIP_CONTRACT_YAML,
        transcripts_df,
    )
    from data_contract_engine_spark.operators.drift import baseline_snapshot
    from data_contract_engine_spark.operators.referential import vocab_df

    yaml_text = FLAGSHIP_CONTRACT_YAML.replace(
        "    tool:\n      values: [search, browser, python, sql]\n",
        "    tool:\n      table: tools\n      column: tool\n",
    )
    contract = parse_contract_yaml(yaml_text, name="flagship-obs")
    df = transcripts_df(spark, n_convs=40, seed=11, hot_turns=30).withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(4))
    )
    base = transcripts_df(spark, n_convs=40, seed=5, hot_conv_pct=50.0)
    snap = baseline_snapshot(
        base, {c: s.get("expr") or c for c, s in contract.quality.drift.items()}
    )
    eng = ContractEngine(
        spark,
        drift_baseline_snapshot=snap,
        vocab_tables={"tools": vocab_df(
            spark, ["search", "browser", "python", "sql"], "tool")},
        now_epoch=1767225600.0,  # 2026-01-01
    )
    return eng, contract, df


def test_resumable_report_reuses_observed_aggregate(
    spark, flagship, tmp_path, monkeypatch
):
    """After validate_resumable(violations_out=...), report() takes the
    fused aggregate from the violations write and runs no aggregate job of
    its own; the report equals a fresh validate().report() on the same
    rows."""
    eng, contract, df = flagship
    keys = ["conv_id", "turn_idx"]
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    vout = str(tmp_path / "viol")
    validate_resumable(
        eng, df.filter(F.col("bucket") < 2), contract, store, run_id="r",
        partition_col="bucket", key_columns=keys, violations_out=vout,
    )
    res = validate_resumable(
        eng, df, contract, store, run_id="r", partition_col="bucket",
        key_columns=keys, violations_out=vout,
    )
    assert res.skipped == 2 and res.validated_now == 2

    seen = _fused_collects(monkeypatch)
    got = res.run.report()
    assert seen == [], "report() re-ran the fused aggregate"
    want = eng.validate(res.run.df, contract, key_columns=keys).report()
    assert len(seen) == 1  # the fresh run's own aggregate pass
    monkeypatch.undo()

    assert got.failed > 0 and got.sample_errors
    assert {e.rule_type for e in got.quality.errors} >= {
        "UNIQUENESS", "REFERENTIAL", "DRIFT",
    }
    _assert_same_report(got, want)
    written = spark.read.parquet(vout).filter(F.col("bucket") >= 2).count()
    assert written == got.total_violation_rows


def test_failed_violations_write_leaves_report_working(spark, flagship, tmp_path):
    """A violations write that raises never ran the observed plan:
    report() must fall back to its own aggregate instead of waiting on the
    observation."""
    from pyspark.errors import AnalysisException

    eng, contract, df = flagship
    keys = ["conv_id", "turn_idx"]
    run = eng.validate(df, contract, key_columns=keys)
    with pytest.raises(AnalysisException):
        run.write_violations(str(tmp_path / "viol"), ["no_such_column"])
    _assert_same_report(
        run.report(), eng.validate(df, contract, key_columns=keys).report()
    )


def test_observed_report_keeps_the_drift_state_it_was_built_on(
    spark, flagship, tmp_path
):
    """Replacing the engine's drift baseline between write_violations and
    report() must not decode the observed histograms with the new edges."""
    from data_contract_engine_spark.operators.drift import baseline_snapshot

    eng, contract, df = flagship
    keys = ["conv_id", "turn_idx"]
    run = eng.validate(df, contract, key_columns=keys)
    run.write_violations(str(tmp_path / "viol"))
    want = eng.validate(df, contract, key_columns=keys).report()

    eng.drift_baseline_snapshot = baseline_snapshot(
        df, {c: s.get("expr") or c for c, s in contract.quality.drift.items()},
        bins=3,
    )
    _assert_same_report(run.report(), want)
