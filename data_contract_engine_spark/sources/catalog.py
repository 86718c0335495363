"""Pluggable table-catalog seam — the Iceberg integration boundary.

The north rule stores transcripts, violations, checkpoints and metrics in
Iceberg tables. This sandbox has no iceberg-spark-runtime jars and no
network to fetch them (re-verified round 3: no jar anywhere on disk, DNS
to Maven Central fails), so every storage operation the engine needs goes
through one small ``TableCatalog`` interface with three implementations:

* :class:`ParquetCatalog` — the plain emulation: append/overwrite writes,
  read-union-rewrite MERGE (`sinks.merge_upsert`), filter-rewrite
  retention DELETE. Semantics are the contract; no atomicity.
* :class:`SnapshotParquetCatalog` — the Iceberg STORAGE MODEL rebuilt
  from scratch on parquet + JSON manifests: atomic pointer-swap commits,
  footer-stats manifests, metadata-only retention deletes, snapshot
  isolation / time travel, snapshot expiry with data-unit GC. This is
  the recommended local backend — it closes the crash window of the
  plain emulation's rewrites.
* :class:`IcebergCatalog` — the real thing: ``MERGE INTO``, ``DELETE
  FROM``, ``CALL <cat>.system.expire_snapshots`` issued via ``spark.sql``
  against a configured catalog. Statement *generation* is deterministic
  and unit-tested here; *execution* is covered by
  ``tests/test_catalog.py::test_iceberg_catalog_execution``, which
  auto-activates the moment an ``iceberg-spark-runtime`` jar appears on
  the pyspark classpath (or via ``ICEBERG_JAR``) and otherwise skips.
  Required session config::

      spark.sql.catalog.local = org.apache.iceberg.spark.SparkCatalog
      spark.sql.catalog.local.type = hadoop
      spark.sql.catalog.local.warehouse = /path/to/warehouse
      spark.sql.extensions =
          org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions

The contract test (`tests/test_catalog.py`) runs the SAME scenario —
checkpoint round-trip, MERGE idempotence, retention delete — against any
``TableCatalog``, so swapping parquet emulation for Iceberg cannot change
engine semantics, only the physical write path.

Reference analog: the Postgres store + scheduler retention
(`app/models/database.py:22-249`, `app/utils/scheduler.py:51-71`).
"""

from __future__ import annotations

import os
import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from . import sinks


class TableCatalog:
    """Minimal storage interface the engine relies on. Implementations
    must make ``merge`` idempotent on ``keys`` and ``append`` atomic per
    call — that pair is what checkpoint/resume correctness rests on."""

    def append(self, table: str, df: DataFrame) -> None:
        raise NotImplementedError

    def overwrite(self, table: str, df: DataFrame) -> None:
        raise NotImplementedError

    def read(self, table: str) -> Optional[DataFrame]:
        """DataFrame, or None if the table does not exist yet."""
        raise NotImplementedError

    def merge(self, table: str, updates: DataFrame, keys: Sequence[str]) -> None:
        """Upsert keyed by ``keys``: matching rows replaced, others
        inserted. Re-merging the same batch is a no-op (idempotent)."""
        raise NotImplementedError

    def delete_older_than(self, table: str, ts_col: str, cutoff) -> int:
        """Retention sweep: remove rows with ts_col < cutoff; returns the
        number removed (or -1 when the backend cannot count cheaply)."""
        raise NotImplementedError


class ParquetCatalog(TableCatalog):
    """Parquet-backed emulation: table name → directory under ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table.replace(".", "/"))

    def append(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._path(table))

    def overwrite(self, table: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._path(table))

    def read(self, table: str) -> Optional[DataFrame]:
        try:
            return self.spark.read.parquet(self._path(table))
        except Exception:
            return None

    def merge(self, table: str, updates: DataFrame, keys: Sequence[str]) -> None:
        sinks.merge_upsert(self.spark, self._path(table), updates, keys)

    def delete_older_than(self, table: str, ts_col: str, cutoff) -> int:
        from pyspark.sql import functions as F

        if self.read(table) is None:
            return 0
        return sinks.filter_rewrite_keep(
            self.spark, self._path(table), F.col(ts_col) >= F.lit(cutoff)
        )


class IcebergCatalog(TableCatalog):
    """Iceberg-native implementation. Each operation is one metadata
    transaction — no read-union-rewrite. SQL builders are pure (tested
    without jars); execution goes through ``spark.sql``."""

    def __init__(self, spark: SparkSession, catalog: str = "local",
                 namespace: str = "dce"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    def qualified(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # -- SQL builders (pure, deterministic, unit-tested) -----------------

    def merge_sql(self, table: str, source_view: str,
                  keys: Sequence[str], columns: Sequence[str]) -> str:
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        sets = ", ".join(f"t.{c} = s.{c}" for c in columns if c not in keys)
        cols = ", ".join(columns)
        vals = ", ".join(f"s.{c}" for c in columns)
        # every column a key → nothing to update; a bare "UPDATE SET"
        # clause would be a parse error, and insert-if-absent is the
        # correct upsert semantics for a key-presence table
        matched = f"WHEN MATCHED THEN UPDATE SET {sets}\n" if sets else ""
        return (
            f"MERGE INTO {self.qualified(table)} t\n"
            f"USING {source_view} s\n"
            f"ON {on}\n"
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )

    def delete_sql(self, table: str, ts_col: str, cutoff_literal: str) -> str:
        return (
            f"DELETE FROM {self.qualified(table)} "
            f"WHERE {ts_col} < TIMESTAMP '{cutoff_literal}'"
        )

    def expire_snapshots_sql(self, table: str, older_than_literal: str,
                             retain_last: int = 5) -> str:
        return (
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{table}', "
            f"older_than => TIMESTAMP '{older_than_literal}', "
            f"retain_last => {retain_last})"
        )

    # -- execution (requires iceberg-spark-runtime on the classpath) -----

    def append(self, table: str, df: DataFrame) -> None:
        df.writeTo(self.qualified(table)).append()

    def overwrite(self, table: str, df: DataFrame) -> None:
        df.writeTo(self.qualified(table)).createOrReplace()

    def read(self, table: str) -> Optional[DataFrame]:
        try:
            return self.spark.table(self.qualified(table))
        except Exception:
            return None

    def merge(self, table: str, updates: DataFrame, keys: Sequence[str]) -> None:
        view = f"__merge_src_{table.replace('.', '_')}"
        updates.createOrReplaceTempView(view)
        self.spark.sql(self.merge_sql(table, view, keys, updates.columns))

    def delete_older_than(self, table: str, ts_col: str, cutoff) -> int:
        self.spark.sql(
            self.delete_sql(table, ts_col, cutoff.strftime("%Y-%m-%d %H:%M:%S"))
        )
        return -1  # Iceberg DELETE is metadata-only; no cheap removed-count


class SnapshotParquetCatalog(TableCatalog):
    """Transactional parquet catalog: Iceberg's storage model rebuilt
    from scratch on plain parquet + JSON manifests (log-structured
    snapshot pattern — no runtime jars needed).

    Layout per table::

        <root>/<table>/
          data/<uuid>/part-*.parquet   one immutable "unit" per committed write
          snapshots/v<N>.json          manifest: unit list + footer stats + schema
          VERSION                      current-version pointer (atomic swap)

    Guarantees the plain :class:`ParquetCatalog` cannot give:

    * **atomic commits** — data lands invisible under ``data/``, then the
      manifest is written, then the VERSION pointer flips via
      ``os.replace`` (atomic on POSIX). A crash at ANY point leaves the
      previous snapshot fully readable (at worst an orphaned data unit,
      reclaimed by :meth:`expire_snapshots`). This closes the
      crash-loses-the-relation window of ``sinks.filter_rewrite_keep``.
    * **metadata-only retention** — per-unit min/max column stats are
      harvested from the parquet FOOTERS at commit (zero data scan);
      ``delete_older_than`` drops wholly-expired units from the manifest
      without touching data, rewrites only straddling units.
    * **snapshot isolation + time travel** — ``read(table, version=N)``
      reads any retained snapshot; readers of version N are unaffected
      by concurrent commits of N+1.
    * **snapshot expiry** — ``expire_snapshots`` prunes old manifests and
      garbage-collects data units no retained snapshot references.

    Single-writer per table (enforced optimistically: a commit whose
    parent is no longer current raises ``ConcurrentWriteError``); the
    multi-writer story is exactly what real Iceberg's catalog locking
    adds, and this class keeps the same ``TableCatalog`` contract so the
    swap is config, not code.
    """

    # A same-version manifest younger than this is treated as an in-flight
    # concurrent commit (raise), not a torn leftover (reclaim): a live
    # writer flips VERSION milliseconds after creating its manifest, so
    # only a crash leaves one older than this.
    TORN_MANIFEST_GRACE_SEC = 60.0

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # fault-injection seam: called as pause_hook(point, table, version)
        # at named points of a commit ("manifest_written": the manifest is
        # on disk, VERSION not yet flipped), so tests can interleave
        # writers deterministically
        self.pause_hook = None

    # -- snapshot bookkeeping ---------------------------------------------

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table.replace(".", "/"))

    def _version(self, table: str) -> int:
        try:
            with open(os.path.join(self._dir(table), "VERSION")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _snapshot(self, table: str, version: Optional[int] = None) -> Optional[dict]:
        import json

        v = self._version(table) if version is None else version
        if v <= 0:
            return None
        path = os.path.join(self._dir(table), "snapshots", f"v{v}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_unit(self, table: str, df: DataFrame) -> dict:
        """Write one immutable data unit; stats come from parquet footers
        (no extra scan of the data)."""
        import uuid as _uuid

        rel = os.path.join("data", _uuid.uuid4().hex)
        path = os.path.join(self._dir(table), rel)
        df.write.parquet(path)
        rows, stats = _parquet_footer_stats(path)
        return {"path": rel, "rows": rows, "stats": stats}

    def _commit(self, table: str, parent: int, units, op: str,
                schema_json: str) -> None:
        import datetime as _dt
        import json
        import uuid as _uuid

        tdir = self._dir(table)
        os.makedirs(os.path.join(tdir, "snapshots"), exist_ok=True)
        if self._version(table) != parent:
            raise ConcurrentWriteError(
                f"table {table!r}: version moved past {parent} during commit"
            )
        new_v = parent + 1
        writer_id = _uuid.uuid4().hex
        snap = {
            "version": new_v,
            "parent": parent or None,
            "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "operation": op,
            "schema": schema_json,
            "units": list(units),
            "writer": writer_id,
        }
        # O_CREAT|O_EXCL closes the check-then-write race: two writers can
        # both pass the parent-version check above, but only ONE can
        # create v{N}.json — the loser raises instead of silently
        # overwriting the winner's manifest (round-3 advice). An existing
        # manifest whose version the VERSION pointer never reached is a
        # TORN leftover from a crashed writer (invisible to all readers) —
        # but it is indistinguishable from an IN-FLIGHT writer that has
        # created the manifest and not yet flipped VERSION, so reclaiming
        # on first conflict would let two live writers both "win"
        # (round-4 advice). Reclamation therefore requires the manifest to
        # be older than TORN_MANIFEST_GRACE_SEC (a live writer flips
        # VERSION milliseconds after creating it); a younger conflict is a
        # concurrent commit and raises. A writer stalled past the grace
        # window re-reads VERSION just before its flip and refuses if
        # another writer already reached its version, so VERSION never
        # moves backwards; as a backstop, every commit verifies AFTER the
        # flip that the manifest still carries its own writer id and
        # raises ConcurrentWriteError if the slot was reclaimed — so a
        # lost update is reported, never silent. NOTE: expire_snapshots
        # must not run concurrently with a writer (it may GC a unit the
        # in-flight commit references).
        manifest = os.path.join(tdir, "snapshots", f"v{new_v}.json")
        fd = None
        for attempt in range(2):
            try:
                fd = os.open(
                    manifest, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644
                )
                break
            except FileExistsError:
                if attempt or self._version(table) >= new_v:
                    raise ConcurrentWriteError(
                        f"table {table!r}: another writer already "
                        f"committed version {new_v}"
                    )
                try:
                    import time as _time

                    age = _time.time() - os.path.getmtime(manifest)
                except FileNotFoundError:
                    continue  # the other writer's slot just vanished; retry
                if age < self.TORN_MANIFEST_GRACE_SEC:
                    raise ConcurrentWriteError(
                        f"table {table!r}: version {new_v} manifest exists "
                        f"and is {age:.1f}s old — likely an in-flight "
                        "concurrent commit; retry, or wait out the torn-"
                        "manifest grace window if the writer crashed"
                    )
                # last-instant re-check: a writer stalled past the grace
                # window may have JUST resumed and flipped VERSION — once
                # it has, this manifest is committed, not torn, and
                # unlinking it would lose a successful commit. (Residual
                # window: the stalled writer flips between this check and
                # the unlink below — microseconds, after a >grace-second
                # stall — and its own post-flip verify races our rewrite;
                # closing it entirely needs a lock file, documented
                # tradeoff.)
                if self._version(table) >= new_v:
                    raise ConcurrentWriteError(
                        f"table {table!r}: version {new_v} was committed "
                        "while reclaiming its torn manifest"
                    )
                try:
                    os.unlink(manifest)  # torn: VERSION never flipped
                except FileNotFoundError:
                    # another reclaimer got here first — let the retry
                    # attempt race for the O_EXCL create
                    continue
        with os.fdopen(fd, "w") as f:
            json.dump(snap, f)
        if self.pause_hook is not None:
            self.pause_hook("manifest_written", table, new_v)
        # a writer stalled past the grace window may have had its slot
        # reclaimed and later versions committed meanwhile: flipping now
        # would move VERSION back below them and lose those commits
        if self._version(table) >= new_v:
            raise ConcurrentWriteError(
                f"table {table!r}: version {new_v} was committed by another "
                "writer after this writer's manifest was reclaimed (stall "
                "past the torn-manifest grace window); this commit did NOT "
                "apply"
            )
        tmp = os.path.join(tdir, "VERSION.tmp")
        with open(tmp, "w") as f:
            f.write(str(new_v))
        os.replace(tmp, os.path.join(tdir, "VERSION"))  # THE atomic commit
        try:
            with open(manifest) as f:
                committed = json.load(f)
        except (FileNotFoundError, ValueError):
            committed = None
        if not committed or committed.get("writer") != writer_id:
            raise ConcurrentWriteError(
                f"table {table!r}: commit of version {new_v} was "
                "reclaimed by another writer after a stall past the "
                "torn-manifest grace window; this commit did NOT apply"
            )

    # -- TableCatalog interface -------------------------------------------

    def append(self, table: str, df: DataFrame) -> None:
        parent = self._version(table)
        prev = self._snapshot(table)
        units = list(prev["units"]) if prev else []
        schema_json = df.schema.json()
        if prev is not None:
            # reads use the MANIFEST schema, so recording the latest
            # write's schema verbatim would silently hide columns present
            # only in earlier units (round-3 advice). Iceberg-style
            # evolution instead: the incoming schema must contain every
            # manifest field at the same type; NEW fields append to the
            # manifest schema (earlier units read them as NULL).
            schema_json = self._evolve_schema(table, prev["schema"], df)
        units.append(self._write_unit(table, df))
        self._commit(table, parent, units, "append", schema_json)

    @staticmethod
    def _evolve_schema(table: str, manifest_schema_json: str, df) -> str:
        import json

        from pyspark.sql import types as T

        old = T.StructType.fromJson(json.loads(manifest_schema_json))
        new_fields = {f.name: f for f in df.schema.fields}
        for f in old.fields:
            got = new_fields.get(f.name)
            if got is None:
                raise SchemaMismatchError(
                    f"table {table!r}: append is missing column "
                    f"{f.name!r} present in the table schema; appends "
                    "must not narrow the schema"
                )
            if got.dataType != f.dataType:
                raise SchemaMismatchError(
                    f"table {table!r}: append changes column {f.name!r} "
                    f"type {f.dataType.simpleString()} -> "
                    f"{got.dataType.simpleString()}"
                )
        evolved = list(old.fields) + [
            f for f in df.schema.fields
            if f.name not in {g.name for g in old.fields}
        ]
        return T.StructType(evolved).json()

    def overwrite(self, table: str, df: DataFrame) -> None:
        parent = self._version(table)
        self._commit(
            table, parent, [self._write_unit(table, df)], "overwrite",
            df.schema.json(),
        )

    def read(self, table: str, version: Optional[int] = None) -> Optional[DataFrame]:
        import json

        from pyspark.sql import types as T

        snap = self._snapshot(table, version)
        if snap is None:
            return None
        paths = [os.path.join(self._dir(table), u["path"]) for u in snap["units"]]
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        if not paths:
            return self.spark.createDataFrame([], schema)
        # read with the MANIFEST's recorded schema (Iceberg semantics):
        # an inferred read would sample footers, so a schema-evolved
        # append (new column in later units) could silently drop the
        # column depending on which footer wins
        return self.spark.read.schema(schema).parquet(*paths)

    def merge(self, table: str, updates: DataFrame, keys: Sequence[str]) -> None:
        from pyspark.sql import functions as F  # noqa: F401

        parent = self._version(table)
        existing = self.read(table)
        if existing is None:
            merged = updates
        else:
            merged = existing.join(
                updates.select(*keys).distinct(), on=list(keys), how="left_anti"
            ).unionByName(updates)
        # single new unit; the old snapshot stays readable until the flip
        unit = self._write_unit(table, merged)
        self._commit(table, parent, [unit], "merge", updates.schema.json())

    def delete_older_than(self, table: str, ts_col: str, cutoff) -> int:
        """Metadata-first retention: units whose footer max(ts) < cutoff
        are DROPPED from the manifest (no data read); units with
        min(ts) >= cutoff are kept untouched; only straddling units (or
        ones without footer stats) are rewritten."""
        from pyspark.sql import functions as F

        snap = self._snapshot(table)
        if snap is None:
            return 0
        # manifest stats are stored tz-naive (UTC) — normalize an aware
        # cutoff the same way, or naive-vs-aware comparison raises (the
        # plain ParquetCatalog backend accepts aware cutoffs fine)
        if getattr(cutoff, "tzinfo", None) is not None:
            import datetime as _dt

            cutoff = cutoff.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        parent = snap["version"]
        kept_units, removed = [], 0
        for unit in snap["units"]:
            st = (unit.get("stats") or {}).get(ts_col)
            lo = _parse_stat(st and st.get("min"))
            hi = _parse_stat(st and st.get("max"))
            if hi is not None and hi < cutoff:
                removed += unit["rows"]          # whole unit expired: drop
                continue
            if lo is not None and lo >= cutoff:
                kept_units.append(unit)          # untouched
                continue
            # straddling (or statless): rewrite just this unit
            df = self.spark.read.parquet(
                os.path.join(self._dir(table), unit["path"])
            ).filter(F.col(ts_col) >= F.lit(cutoff))
            new_unit = self._write_unit(table, df)
            removed += unit["rows"] - new_unit["rows"]
            if new_unit["rows"]:
                kept_units.append(new_unit)
        self._commit(table, parent, kept_units, "delete", snap["schema"])
        return removed

    # -- maintenance --------------------------------------------------------

    def expire_snapshots(self, table: str, retain_last: int = 5) -> dict:
        """Prune manifests beyond the newest ``retain_last`` and
        garbage-collect data units no retained snapshot references —
        the vacuum that bounds storage growth from merge/delete rewrites.
        Returns {'snapshots': n_removed, 'units': n_removed}."""
        import shutil

        tdir = self._dir(table)
        current = self._version(table)
        if current == 0:
            return {"snapshots": 0, "units": 0}
        keep_versions = set(range(max(1, current - retain_last + 1), current + 1))
        sdir = os.path.join(tdir, "snapshots")
        removed_snaps = 0
        for name in os.listdir(sdir):
            # only touch manifest files we own (v<N>.json) — a stray
            # editor backup / temp file must not abort the maintenance
            m = re.fullmatch(r"v(\d+)\.json", name)
            if not m:
                continue
            if int(m.group(1)) not in keep_versions:
                os.remove(os.path.join(sdir, name))
                removed_snaps += 1
        referenced = set()
        for v in keep_versions:
            snap = self._snapshot(table, v)
            if snap:
                referenced.update(u["path"] for u in snap["units"])
        ddir = os.path.join(tdir, "data")
        removed_units = 0
        for name in os.listdir(ddir) if os.path.isdir(ddir) else []:
            rel = os.path.join("data", name)
            if rel not in referenced:
                shutil.rmtree(os.path.join(ddir, name), ignore_errors=True)
                removed_units += 1
        return {"snapshots": removed_snaps, "units": removed_units}


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency failure: the table version advanced between
    the read of the parent snapshot and the commit attempt."""


class SchemaMismatchError(ValueError):
    """An append's schema narrows or retypes the table schema (Iceberg
    semantics: appends may ADD columns, never drop or retype them)."""


def _parquet_footer_stats(path: str):
    """(row_count, {col: {'min': iso/val, 'max': iso/val}}) from parquet
    FOOTER metadata only — the manifest-stats harvest, zero data read.
    Columns without usable footer stats are omitted (treated as
    unknown → conservatively rewritten on delete)."""
    import datetime as _dt
    import glob

    import pyarrow.parquet as pq

    rows = 0
    mins: dict = {}
    maxs: dict = {}
    seen_nostat = set()
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaves: not prunable top-level
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    seen_nostat.add(name)
                    continue
                lo, hi = st.min, st.max
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi

    def enc(v):
        if isinstance(v, (_dt.datetime, _dt.date)):
            return {"t": "ts", "v": v.isoformat()}
        if isinstance(v, (int, float)):
            return {"t": "num", "v": v}
        if isinstance(v, str):
            return {"t": "str", "v": v}
        if isinstance(v, bytes):
            return None
        return None

    stats = {}
    for name in mins:
        if name in seen_nostat:
            continue  # some row group lacked stats: unknown overall
        lo, hi = enc(mins[name]), enc(maxs[name])
        if lo is not None and hi is not None:
            stats[name] = {"min": lo, "max": hi}
    return rows, stats


def _parse_stat(v):
    """Decode a manifest stat value back to a comparable Python object."""
    import datetime as _dt

    if not v:
        return None
    if v["t"] == "ts":
        parsed = _dt.datetime.fromisoformat(v["v"])
        return parsed.replace(tzinfo=None) if parsed.tzinfo else parsed
    return v["v"]


def catalog_checkpoint_store(catalog: TableCatalog, table: str):
    """A :class:`~data_contract_engine_spark.checkpoint.CheckpointStore`
    backed by a catalog: completion rows land via idempotent MERGE keyed
    by (run_id, partition_key, lineage_hash) — re-running a crashed
    partition replaces its row exactly once, on ANY backend."""
    from ..checkpoint import CheckpointStore

    class _CatalogStore(CheckpointStore):
        def __init__(self):
            self.catalog = catalog
            self.table = table
            self.spark = getattr(catalog, "spark", None)

        def _read(self):
            return self.catalog.read(self.table)

        def write_done(self, rows_df: DataFrame) -> None:
            self.catalog.merge(
                self.table, rows_df,
                keys=("run_id", "partition_key", "lineage_hash"),
            )

    return _CatalogStore()
