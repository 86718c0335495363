"""TableCatalog contract tests — the Iceberg seam.

One scenario, any backend: append-read round trip, MERGE idempotence,
retention delete, and a full checkpoint/resume cycle through
``catalog_checkpoint_store``. The parquet emulation runs it for real; the
Iceberg implementation's SQL generation is pinned here (execution needs
the iceberg-spark-runtime jars, absent in this sandbox — see
sources/catalog.py for the required session config).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_contract_engine_spark import ContractEngine, parse_contract_yaml
from data_contract_engine_spark.checkpoint import validate_resumable
from data_contract_engine_spark.sources.catalog import (
    ConcurrentWriteError,
    IcebergCatalog,
    ParquetCatalog,
    SnapshotParquetCatalog,
    catalog_checkpoint_store,
)

CONTRACT = """
contract_version: "1.0"
schema:
  conv_id: {type: string, required: true}
  turn_idx: {type: integer, required: true, min: 0}
"""


@pytest.fixture(params=["parquet", "snapshot"])
def pcat(spark, tmp_path, request):
    """The catalog CONTRACT tests run against every local backend: the
    plain parquet emulation and the transactional snapshot catalog."""
    cls = {"parquet": ParquetCatalog, "snapshot": SnapshotParquetCatalog}
    return cls[request.param](spark, str(tmp_path / "warehouse"))


def test_catalog_append_read_merge_contract(spark, pcat):
    df = spark.createDataFrame(
        [("r1", "a", 1), ("r1", "b", 2)], "run_id string, k string, v int"
    )
    assert pcat.read("results") is None
    pcat.append("results", df)
    assert pcat.read("results").count() == 2

    # MERGE: update one key, insert one, and re-merging is a no-op
    upd = spark.createDataFrame(
        [("r1", "b", 20), ("r1", "c", 3)], "run_id string, k string, v int"
    )
    pcat.merge("results", upd, keys=("run_id", "k"))
    pcat.merge("results", upd, keys=("run_id", "k"))  # idempotent
    got = {r["k"]: r["v"] for r in pcat.read("results").collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_catalog_retention_delete(spark, pcat):
    now = dt.datetime(2026, 6, 1)
    rows = [("x", now - dt.timedelta(days=d)) for d in (1, 50, 200)]
    pcat.append(
        "hist", spark.createDataFrame(rows, "k string, validated_at timestamp")
    )
    removed = pcat.delete_older_than(
        "hist", "validated_at", now - dt.timedelta(days=90)
    )
    assert removed == 1
    assert pcat.read("hist").count() == 2
    assert pcat.delete_older_than("missing", "validated_at", now) == 0


def test_checkpoint_round_trip_through_catalog(spark, pcat):
    """Resume semantics must hold on ANY backend: completion rows land via
    idempotent MERGE; a re-run of a done partition replaces its checkpoint
    row exactly once instead of duplicating it."""
    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="cat-ckpt")
    store = catalog_checkpoint_store(pcat, "checkpoints")
    data = spark.createDataFrame(
        [(f"conv_{i % 3}", i) for i in range(30)],
        "conv_id string, turn_idx int",
    )

    half = data.filter(F.col("conv_id") != "conv_2")
    r1 = validate_resumable(
        eng, half, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r1.validated_now == 2

    r2 = validate_resumable(
        eng, data, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r2.skipped == 2 and r2.validated_now == 1

    # MERGE keyed by (run_id, partition_key, lineage_hash): exactly one
    # checkpoint row per partition even after multiple writes
    prog = store.progress("r").collect()
    assert len(prog) == 3
    assert {r["partition_key"] for r in prog} == {"conv_0", "conv_1", "conv_2"}


def test_iceberg_sql_generation_pinned(spark):
    """The Iceberg path's statements are deterministic text — pin them so
    the seam's contract survives refactors even without the runtime jars."""
    cat = IcebergCatalog(spark, catalog="local", namespace="dce")
    assert cat.qualified("checkpoints") == "local.dce.checkpoints"

    merge = cat.merge_sql(
        "checkpoints", "src",
        keys=("run_id", "partition_key"),
        columns=("run_id", "partition_key", "status"),
    )
    assert merge == (
        "MERGE INTO local.dce.checkpoints t\n"
        "USING src s\n"
        "ON t.run_id = s.run_id AND t.partition_key = s.partition_key\n"
        "WHEN MATCHED THEN UPDATE SET t.status = s.status\n"
        "WHEN NOT MATCHED THEN INSERT (run_id, partition_key, status) "
        "VALUES (s.run_id, s.partition_key, s.status)"
    )
    assert cat.delete_sql("results", "validated_at", "2026-01-01 00:00:00") == (
        "DELETE FROM local.dce.results "
        "WHERE validated_at < TIMESTAMP '2026-01-01 00:00:00'"
    )
    assert cat.expire_snapshots_sql("results", "2026-01-01 00:00:00") == (
        "CALL local.system.expire_snapshots(table => 'dce.results', "
        "older_than => TIMESTAMP '2026-01-01 00:00:00', retain_last => 5)"
    )


def test_iceberg_merge_sql_key_only_table(spark):
    """All columns are keys → no UPDATE SET clause (a bare one is a parse
    error); the upsert degenerates to insert-if-absent, matching the
    ParquetCatalog's behavior for key-presence tables."""
    cat = IcebergCatalog(spark, catalog="local", namespace="dce")
    sql = cat.merge_sql("seen", "src", keys=("k",), columns=("k",))
    assert "UPDATE SET" not in sql
    assert "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)" in sql


# ---------------------------------------------------------------------------
# SnapshotParquetCatalog-specific guarantees (the Iceberg storage model
# rebuilt on parquet + JSON manifests)
# ---------------------------------------------------------------------------


@pytest.fixture()
def scat(spark, tmp_path):
    return SnapshotParquetCatalog(spark, str(tmp_path / "snap_wh"))


def test_snapshot_commit_is_atomic(spark, scat, tmp_path):
    """A crash between data write and pointer flip must leave the previous
    snapshot fully readable: simulate by writing a data unit + manifest
    but NOT flipping VERSION — readers still see the old version."""
    import json
    import os

    df1 = spark.createDataFrame([("a", 1)], "k string, v int")
    scat.overwrite("t", df1)
    assert scat.read("t").count() == 1

    # simulate the torn write: unit + manifest for v2 exist, pointer not
    # flipped (crash just before os.replace)
    tdir = scat._dir("t")
    unit = scat._write_unit("t", spark.createDataFrame(
        [("b", 2), ("c", 3)], "k string, v int"))
    with open(os.path.join(tdir, "snapshots", "v2.json"), "w") as f:
        json.dump({"version": 2, "parent": 1, "ts": "x", "operation":
                   "append", "schema": df1.schema.json(),
                   "units": [unit]}, f)
    got = {r["k"] for r in scat.read("t").collect()}
    assert got == {"a"}  # old snapshot intact; torn v2 invisible

    # while the torn manifest is YOUNG it is indistinguishable from an
    # in-flight concurrent commit — a new commit must refuse, not reclaim
    with pytest.raises(ConcurrentWriteError):
        scat.append("t", spark.createDataFrame([("d", 4)], "k string, v int"))

    # once older than the grace window it is provably torn (a live writer
    # flips VERSION within milliseconds) and the slot is reclaimed
    manifest = os.path.join(tdir, "snapshots", "v2.json")
    past = os.path.getmtime(manifest) - scat.TORN_MANIFEST_GRACE_SEC - 1
    os.utime(manifest, (past, past))
    scat.append("t", spark.createDataFrame([("d", 4)], "k string, v int"))
    assert {r["k"] for r in scat.read("t").collect()} == {"a", "d"}


def test_snapshot_time_travel_and_isolation(spark, scat):
    df1 = spark.createDataFrame([("a", 1)], "k string, v int")
    df2 = spark.createDataFrame([("b", 2)], "k string, v int")
    scat.overwrite("t", df1)
    scat.append("t", df2)
    v1 = scat.read("t", version=1)
    assert {r["k"] for r in v1.collect()} == {"a"}
    assert {r["k"] for r in scat.read("t").collect()} == {"a", "b"}
    # snapshot isolation: a reader holding v2's plan is unaffected by v3
    v2 = scat.read("t")
    scat.overwrite("t", spark.createDataFrame([("z", 9)], "k string, v int"))
    assert {r["k"] for r in v2.collect()} == {"a", "b"}


def test_snapshot_metadata_only_delete(spark, scat):
    """Units wholly past retention are dropped from the manifest WITHOUT
    rewriting surviving data: the kept unit's directory must be the same
    one the original append created (no rewrite), the expired unit's
    rows disappear, and a straddling unit is rewritten."""
    import datetime as dt
    import os

    now = dt.datetime(2026, 6, 1)
    old = [("old", now - dt.timedelta(days=200 + i)) for i in range(3)]
    new = [("new", now - dt.timedelta(days=i + 1)) for i in range(3)]
    mixed = [("mix_old", now - dt.timedelta(days=150)),
             ("mix_new", now - dt.timedelta(days=2))]
    ddl = "k string, validated_at timestamp"
    scat.append("hist", spark.createDataFrame(old, ddl))
    scat.append("hist", spark.createDataFrame(new, ddl))
    scat.append("hist", spark.createDataFrame(mixed, ddl))
    units_before = {u["path"]: u for u in scat._snapshot("hist")["units"]}
    keep_unit = next(
        p for p, u in units_before.items()
        if u["stats"]["validated_at"]["min"]["v"] >
        (now - dt.timedelta(days=90)).isoformat()
    )

    removed = scat.delete_older_than(
        "hist", "validated_at", now - dt.timedelta(days=90)
    )
    assert removed == 4  # 3 old + mix_old
    rows = {r["k"] for r in scat.read("hist").collect()}
    assert rows == {"new", "mix_new"}
    units_after = [u["path"] for u in scat._snapshot("hist")["units"]]
    assert keep_unit in units_after  # untouched, not rewritten
    assert len(units_after) == 2     # kept + rewritten straddler

    # time travel still sees the pre-delete data until snapshots expire
    pre = scat.read("hist", version=3)
    assert pre.count() == 8

    # expire: keep only the latest snapshot; orphaned units are GC'd
    res = scat.expire_snapshots("hist", retain_last=1)
    assert res["snapshots"] == 3 and res["units"] == 2
    assert scat.read("hist", version=3) is None
    assert {r["k"] for r in scat.read("hist").collect()} == {"new", "mix_new"}
    data_dirs = os.listdir(os.path.join(scat._dir("hist"), "data"))
    assert len(data_dirs) == 2


def test_snapshot_concurrent_write_detected(spark, scat):
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    scat.overwrite("t", df)
    # writer 1 reads parent=1, writer 2 commits first
    parent = scat._version("t")
    unit = scat._write_unit("t", df)
    scat.append("t", df)  # version -> 2
    with pytest.raises(ConcurrentWriteError):
        scat._commit("t", parent, [unit], "append", df.schema.json())


def test_snapshot_stalled_writer_does_not_silently_lose_commit(
    spark, scat, monkeypatch
):
    """Round-4 advice race: writer A creates v2.json then stalls past the
    grace window BEFORE flipping VERSION; writer B reclaims the slot and
    commits. A's commit must RAISE (post-flip writer-id verify), never
    report success while its units are gone."""
    import json
    import os

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    scat.overwrite("t", df)
    parent = scat._version("t")
    unit_a = scat._write_unit(
        "t", spark.createDataFrame([("A", 2)], "k string, v int")
    )

    orig_fdopen = os.fdopen
    state = {}

    def fdopen_then_stall(fd, *a, **k):
        fh = orig_fdopen(fd, *a, **k)
        if not state:  # first manifest write = writer A
            state["armed"] = True

            class _Wrapped:
                def __enter__(self):
                    return fh.__enter__()

                def __exit__(self, *exc):
                    r = fh.__exit__(*exc)
                    # A "stalls": backdate its manifest past the grace
                    # window, then B reclaims the slot and commits
                    man = os.path.join(
                        scat._dir("t"), "snapshots", "v2.json"
                    )
                    past = (os.path.getmtime(man)
                            - scat.TORN_MANIFEST_GRACE_SEC - 1)
                    os.utime(man, (past, past))
                    monkeypatch.undo()
                    scat.append(
                        "t",
                        spark.createDataFrame([("B", 3)],
                                              "k string, v int"),
                    )
                    return r

            return _Wrapped()
        return fh

    monkeypatch.setattr(os, "fdopen", fdopen_then_stall)
    with pytest.raises(ConcurrentWriteError, match="reclaimed"):
        scat._commit("t", parent, [unit_a], "append", df.schema.json())
    # B's commit stands; A's units are not referenced
    assert {r["k"] for r in scat.read("t").collect()} == {"a", "B"}
    with open(os.path.join(scat._dir("t"), "snapshots", "v2.json")) as f:
        assert json.load(f)["units"][-1]["path"] != unit_a["path"]


def test_snapshot_stalled_writer_cannot_move_version_back(
    spark, scat, monkeypatch
):
    """Writer A stalls between its manifest create and its VERSION flip;
    meanwhile writer B reclaims A's v2 slot and commits v2 and v3. A must
    refuse to flip (VERSION would fall back to 2 and lose v3)."""
    monkeypatch.setattr(SnapshotParquetCatalog, "TORN_MANIFEST_GRACE_SEC", 0)

    def row(k):
        return spark.createDataFrame([(k, 1)], "k string, v int")

    scat.overwrite("t", row("a"))
    writer_a = SnapshotParquetCatalog(spark, scat.root)

    def stall(point, table, version):
        assert (point, table, version) == ("manifest_written", "t", 2)
        scat.append("t", row("B2"))  # reclaims A's v2 manifest
        scat.append("t", row("B3"))

    writer_a.pause_hook = stall
    with pytest.raises(ConcurrentWriteError):
        writer_a.append("t", row("A"))
    assert scat._version("t") == 3
    assert {r["k"] for r in scat.read("t", version=2).collect()} == {"a", "B2"}
    assert {r["k"] for r in scat.read("t").collect()} == {"a", "B2", "B3"}


def test_snapshot_merge_atomic_and_idempotent(spark, scat):
    df = spark.createDataFrame([("r", "a", 1)], "run_id string, k string, v int")
    scat.append("results", df)
    upd = spark.createDataFrame(
        [("r", "a", 10), ("r", "b", 2)], "run_id string, k string, v int"
    )
    scat.merge("results", upd, keys=("run_id", "k"))
    scat.merge("results", upd, keys=("run_id", "k"))
    got = {r["k"]: r["v"] for r in scat.read("results").collect()}
    assert got == {"a": 10, "b": 2}
    # each merge = one new single-unit snapshot; history retained
    assert scat._version("results") == 3


# ---------------------------------------------------------------------------
# Real Iceberg execution — auto-activates when the runtime jars appear.
# Round-3 environment check: no iceberg-spark-runtime*.jar anywhere on
# disk and no network route to Maven Central (DNS resolution fails), so
# this remains skip-gated; the scenario is ready to run unchanged.
# ---------------------------------------------------------------------------


def _iceberg_jar():
    import glob
    import os

    import pyspark

    hits = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars",
                     "iceberg-spark-runtime*.jar")
    )
    return (hits + [os.environ.get("ICEBERG_JAR")])[0] if (
        hits or os.environ.get("ICEBERG_JAR")
    ) else None


@pytest.mark.skipif(
    _iceberg_jar() is None,
    reason="iceberg-spark-runtime jars absent (no network in sandbox)",
)
def test_iceberg_catalog_execution(tmp_path):
    """The SAME contract scenario the local backends pass, executed
    against a real Iceberg hadoop catalog (own session via subprocess —
    extensions must be set at session build)."""
    import json
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(f"""
        import datetime as dt, json
        from data_contract_engine_spark import build_session
        from data_contract_engine_spark.sources.catalog import IcebergCatalog
        spark = build_session(app_name="iceberg-exec", master="local[2]",
            shuffle_partitions=2, extra_conf={{
            "spark.jars": {_iceberg_jar()!r},
            "spark.sql.extensions":
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions",
            "spark.sql.catalog.local":
                "org.apache.iceberg.spark.SparkCatalog",
            "spark.sql.catalog.local.type": "hadoop",
            "spark.sql.catalog.local.warehouse": {str(tmp_path / "wh")!r},
        }})
        spark.sql("CREATE NAMESPACE IF NOT EXISTS local.dce")
        cat = IcebergCatalog(spark, catalog="local", namespace="dce")
        spark.sql("CREATE TABLE local.dce.results "
                  "(run_id string, k string, v int) USING iceberg")
        df = spark.createDataFrame([("r1","a",1),("r1","b",2)],
                                   "run_id string, k string, v int")
        cat.append("results", df)
        upd = spark.createDataFrame([("r1","b",20),("r1","c",3)],
                                    "run_id string, k string, v int")
        cat.merge("results", upd, keys=("run_id","k"))
        cat.merge("results", upd, keys=("run_id","k"))
        got = {{r["k"]: r["v"] for r in cat.read("results").collect()}}
        spark.sql("CREATE TABLE local.dce.hist "
                  "(k string, validated_at timestamp) USING iceberg")
        now = dt.datetime(2026, 6, 1)
        rows = [("x", now - dt.timedelta(days=d)) for d in (1, 50, 200)]
        cat.append("hist", spark.createDataFrame(
            rows, "k string, validated_at timestamp"))
        cat.delete_older_than("hist", "validated_at",
                              now - dt.timedelta(days=90))
        n_hist = cat.read("hist").count()
        spark.sql(cat.expire_snapshots_sql(
            "hist", now.strftime("%Y-%m-%d %H:%M:%S"), retain_last=1))
        print("RESULT " + json.dumps({{"merge": got, "hist": n_hist}}))
        spark.stop()
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd="/root/repo", timeout=600,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert line, f"no RESULT line; stderr tail: {out.stderr[-2000:]}"
    res = json.loads(line[0][7:])
    assert res["merge"] == {"a": 1, "b": 20, "c": 3}
    assert res["hist"] == 2


def test_snapshot_review_fixes(spark, scat, tmp_path):
    """Round-3 review findings: schema-evolved reads honor the manifest
    schema; stray files in snapshots/ don't abort maintenance; tz-aware
    retention cutoffs work."""
    import datetime as dt
    import os

    scat.append("evo", spark.createDataFrame([(1, "x")], "a long, b string"))
    scat.append(
        "evo",
        spark.createDataFrame([(2, "y", 9.0)], "a long, b string, c double"),
    )
    got = scat.read("evo")
    assert "c" in got.columns          # recorded schema wins, not footers
    rows = {r["a"]: r for r in got.collect()}
    assert rows[2]["c"] == 9.0 and rows[1]["c"] is None

    # stray file in snapshots/ is ignored by expire, not a crash
    sdir = os.path.join(str(tmp_path / "snap_wh"), "evo", "snapshots")
    with open(os.path.join(sdir, "v1.json~"), "w") as f:
        f.write("backup")
    scat.expire_snapshots("evo", retain_last=1)
    assert os.path.exists(os.path.join(sdir, "v1.json~"))

    # tz-aware cutoff: same semantics as a naive UTC one
    scat.append(
        "ret",
        spark.createDataFrame(
            [(1, dt.datetime(2020, 1, 1)), (2, dt.datetime(2025, 1, 1))],
            "id long, ts timestamp",
        ),
    )
    cut = dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc)
    assert scat.delete_older_than("ret", "ts", cut) == 1
    assert {r["id"] for r in scat.read("ret").collect()} == {2}
