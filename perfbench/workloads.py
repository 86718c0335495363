"""The benchmark's workloads. Each one generates (or loads) its seeded
inputs, sets up, and runs one timed operation at a time through the
public API of ``data_contract_engine_spark``, checking every output.

Why these workloads:

* ``dirty_resume`` — ``validate_resumable`` over a bucket-partitioned
  input with a snapshot-catalog checkpoint store, run over 16 of 32
  buckets (a crash after it) and then resumed over all 32. A third of
  the rows fail, one conversation holds ~10% of turns and ``tool`` is
  checked against a table-backed vocabulary, so the error-struct tree,
  partitioned violation writes, catalog merges, partition pruning, the
  broadcast referential join and uniqueness under a hot key all run.
* ``corpus_dedup`` — MinHash near-duplicates, then exact and LSH cosine
  top-k, over a seeded corpus shaped like the sf0.1 reference corpus. It is the only workload for the ``dedup``
  and ``similarity`` layers and bypasses the contract engine, so an
  engine or compiler change should leave it unchanged.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Dict, List

import numpy as np

from perfbench import inputs as gen
from perfbench import oracle

KEYS = ["conv_id", "turn_idx"]


@dataclass
class Ctx:
    spark: Any
    tracer: Any
    seed: int
    cache_root: str
    work: str


@dataclass
class OpResult:
    rows: int           # input rows the operation processed
    wall_s: float       # whole operation
    latency_s: float    # the part reported as op latency
    problems: List[str] = field(default_factory=list)
    detail: Dict[str, Any] = field(default_factory=dict)


def _drift_exprs(contract) -> Dict[str, str]:
    return {c: s.get("expr") or c for c, s in contract.quality.drift.items()}


def _noop_scan(ctx: Ctx, df) -> None:
    """The scan/decode floor: read every column, write nothing."""
    with ctx.tracer.span("sources.scan"):
        df.write.format("noop").mode("overwrite").save()


def _compile(ctx: Ctx, contract, df, engine) -> None:
    """The compiler layer alone: contract IR to Column expressions."""
    from data_contract_engine_spark.compiler.expressions import compile_contract

    with ctx.tracer.span("compiler"):
        compile_contract(contract, df.schema, engine.compile_options)


def _wrapped_layers():
    """Layer functions the engine reaches by attribute lookup, so a traced
    run can time each call from outside the engine."""
    from data_contract_engine_spark.checkpoint import CheckpointStore
    from data_contract_engine_spark.engine import ContractEngine, ValidationRun
    from data_contract_engine_spark.operators import drift
    from data_contract_engine_spark.sources import sinks
    from data_contract_engine_spark.sources.catalog import SnapshotParquetCatalog

    return [
        (ContractEngine, "validate", "engine.validate"),
        (drift, "score_histograms_pandas", "drift.score"),
        (ValidationRun, "_referential_table_errors", "referential"),
        (sinks, "write_violations", "sources.violations_write"),
        (SnapshotParquetCatalog, "merge", "catalog.merge"),
        (CheckpointStore, "done_partitions", "catalog.read"),
    ]


TOOL_VOCAB_CONTRACT_FROM = "    tool:\n      values: [search, browser, python, sql]\n"
TOOL_VOCAB_CONTRACT_TO = "    tool:\n      table: tool_vocab\n      column: tool\n"


class DirtyResume:
    name = "dirty_resume"
    min_ops = 1            # one crash-and-resume cycle takes ~15 s on 4 cores
    n_rows = 32_000
    first_buckets = 16     # the run that "crashes" covers buckets 0..15

    def prepare(self, ctx: Ctx) -> dict:
        key = f"{self.name}-{gen.CACHE_VERSION}-s{ctx.seed}-n{self.n_rows}"

        def build(tmp):
            meta = gen.write_dirty(ctx.spark, tmp, ctx.seed, self.n_rows)
            meta["expected"] = oracle.expected_for_input(
                os.path.join(tmp, "transcripts"), "bucket", gen.TOOL_VOCAB, self.n_rows
            )
            return meta

        self.meta = gen.cached(ctx.cache_root, key, build)
        exp = self.meta["expected"]
        first = [b for b in exp if int(b) < self.first_buckets]
        rest = [b for b in exp if int(b) >= self.first_buckets]
        self.expected_first = oracle.combine([exp[b] for b in first])
        self.expected_rest = oracle.combine([exp[b] for b in rest])
        self.n_partitions = len(exp)
        return self.meta

    def setup(self, ctx: Ctx) -> dict:
        from data_contract_engine_spark import ContractEngine, parse_contract_yaml
        from data_contract_engine_spark.fixtures.transcripts import FLAGSHIP_CONTRACT_YAML
        from data_contract_engine_spark.operators.drift import baseline_snapshot
        from data_contract_engine_spark.operators.referential import vocab_df
        from pyspark.sql import functions as F

        if TOOL_VOCAB_CONTRACT_FROM not in FLAGSHIP_CONTRACT_YAML:
            raise RuntimeError("flagship contract no longer declares the tool vocabulary")
        self.contract = parse_contract_yaml(
            FLAGSHIP_CONTRACT_YAML.replace(TOOL_VOCAB_CONTRACT_FROM, TOOL_VOCAB_CONTRACT_TO),
            name="flagship_dirty",
        )
        if "table" not in (self.contract.quality.referential or {}).get("tool", {}):
            raise RuntimeError("table-backed tool vocabulary did not parse")
        spark = ctx.spark
        self.df = spark.read.parquet(os.path.join(self.meta["dir"], "transcripts"))
        t0 = time.perf_counter()
        snap = baseline_snapshot(self.df, _drift_exprs(self.contract))
        snap_s = time.perf_counter() - t0
        self.vocab = vocab_df(spark, gen.TOOL_VOCAB, "tool")
        self.engine = ContractEngine(
            spark, drift_baseline_snapshot=snap, vocab_tables={"tool_vocab": self.vocab}
        )
        # warm-up: validate one bucket. A whole crash-and-resume cycle warms
        # more code, but it doubles the cost of each set-up without making
        # the timed cycle steadier (measured on 4 cores).
        self.engine.validate(
            self.df.filter(F.col("bucket") == self.first_buckets), self.contract,
            key_columns=KEYS,
        ).report()
        return {"snapshot_s": snap_s}

    def _resumable(self, ctx: Ctx, df, store, run_id: str, viol: str):
        from data_contract_engine_spark.checkpoint import validate_resumable

        tr = ctx.tracer
        with tr.span("checkpoint", refine=True):
            res = validate_resumable(
                self.engine, df, self.contract, store, run_id=run_id,
                partition_col="bucket", key_columns=KEYS, violations_out=viol,
            )
        with tr.span("engine", refine=True):
            rep = res.run.report()
        return res, rep

    def _cycle(self, ctx: Ctx, df, split: int, label: str) -> dict:
        """Validate the buckets of ``df`` below ``split`` (the run that
        crashes), then resume over all of ``df`` with the same store."""
        from pyspark.sql import functions as F

        from data_contract_engine_spark.sources.catalog import (
            SnapshotParquetCatalog,
            catalog_checkpoint_store,
        )

        tr = ctx.tracer
        root = os.path.join(ctx.work, f"{label}-{uuid.uuid4().hex[:6]}")
        catalog = SnapshotParquetCatalog(ctx.spark, os.path.join(root, "catalog"))
        store = catalog_checkpoint_store(catalog, "checkpoints")
        viol = os.path.join(root, "violations")
        op = tr.op
        with tr.wrapping(_wrapped_layers()):
            t0 = time.perf_counter()
            tr.op = None  # the crashed first run is not the measured resume
            _res1, rep1 = self._resumable(
                ctx, df.filter(F.col("bucket") < split), store, label, viol
            )
            t1 = time.perf_counter()
            tr.op = op
            res2, rep2 = self._resumable(ctx, df, store, label, viol)
            t2 = time.perf_counter()
        return {"rep1": rep1, "res2": res2, "rep2": rep2, "first_s": t1 - t0,
                "resume_s": t2 - t1, "root": root, "catalog": catalog, "viol": viol}

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from pyspark.sql import functions as F

        c = self._cycle(ctx, self.df, self.first_buckets, f"run{i}")
        rep1, res2, rep2 = c["rep1"], c["res2"], c["rep2"]
        if ctx.tracer.enabled:
            pending = self.df.filter(F.col("bucket") >= self.first_buckets)
            _compile(ctx, self.contract, pending, self.engine)
            _noop_scan(ctx, pending)

        problems = [f"first run {p}" for p in oracle.report_mismatches(rep1, self.expected_first)]
        problems += [f"resume {p}" for p in oracle.report_mismatches(rep2, self.expected_rest)]
        if res2.skipped + res2.validated_now != self.n_partitions:
            problems.append(
                f"skipped {res2.skipped} + validated {res2.validated_now} != {self.n_partitions}"
            )
        n_viol = ctx.spark.read.parquet(c["viol"]).count()
        want_viol = rep1.total_violation_rows + rep2.total_violation_rows
        if n_viol != want_viol:
            problems.append(f"violations artifact has {n_viol} rows, reports say {want_viol}")
        n_rows = self.meta["inputs"]["transcripts"]["rows"]
        ck = c["catalog"].read("checkpoints").agg(F.sum("total")).collect()[0][0]
        if ck != n_rows:
            problems.append(f"checkpoint totals sum to {ck}, input has {n_rows}")
        shutil.rmtree(c["root"], ignore_errors=True)
        return OpResult(
            rep1.total_records + rep2.total_records, c["first_s"] + c["resume_s"],
            c["resume_s"], problems,
            {"first_s": c["first_s"], "resume_s": c["resume_s"],
             "pending_rows": rep2.total_records},
        )


class CorpusDedup:
    name = "corpus_dedup"
    # the first chain still compiles hot code (several seconds of JIT on
    # 4 cores); the median of three leaves it out
    min_ops = 3
    # the sf0.1 reference corpus's sizes
    n_docs = 5000
    n_vecs = 2000
    dim = 64

    def prepare(self, ctx: Ctx) -> dict:
        import pyarrow.parquet as pq

        key = f"{self.name}-{gen.CACHE_VERSION}-s{ctx.seed}-d{self.n_docs}-v{self.n_vecs}"
        self.meta = gen.cached(
            ctx.cache_root, key,
            lambda tmp: gen.write_corpus(tmp, ctx.seed, self.n_docs, self.n_vecs, self.dim),
        )
        emb = pq.read_table(os.path.join(self.meta["dir"], "embeddings")).sort_by("vec_id")
        self.vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        return self.meta

    def setup(self, ctx: Ctx) -> dict:
        spark = ctx.spark
        self.docs = spark.read.parquet(os.path.join(self.meta["dir"], "documents"))
        self.emb = spark.read.parquet(os.path.join(self.meta["dir"], "embeddings"))
        # warm-up on the whole corpus: Spark reuses the generated code of
        # an identical plan, so the timed chains start with it compiled
        self.chain(ctx.tracer, self.docs, self.emb, 0)
        return {}

    def chain(self, tr, docs, emb, q: int) -> Dict[str, Any]:
        from pyspark.sql import functions as F

        from data_contract_engine_spark.operators import dedup, similarity

        qv = [float(x) for x in emb.filter(F.col("vec_id") == q).first()["embedding"]]
        with tr.span("dedup.minhash"):
            pairs = dedup.minhash_near_duplicates(
                docs, threshold=gen.JACCARD_THRESHOLD
            ).collect()
        with tr.span("similarity.topk"):
            exact = similarity.cosine_topk(emb, qv, gen.TOP_K).collect()
            ann = similarity.ann_lsh_topk(
                emb, qv, gen.TOP_K, planes=8, probe_hamming=2
            ).collect()
        return {
            "pairs": {f"{r['id_a']},{r['id_b']}": r["jaccard"] for r in pairs},
            "exact": [(r["vec_id"], r["sim"]) for r in exact],
            "ann": [(r["vec_id"], r["sim"]) for r in ann],
        }

    def op(self, ctx: Ctx, i: int) -> OpResult:
        queries = self.meta["queries"]
        q = queries[i % len(queries)]
        t0 = time.perf_counter()
        out = self.chain(ctx.tracer, self.docs, self.emb, q)
        wall = time.perf_counter() - t0
        truth = self.meta["truth"]
        sims = self.vecs @ self.vecs[q] / (
            np.linalg.norm(self.vecs, axis=1) * np.linalg.norm(self.vecs[q])
        )
        problems = oracle.dedup_mismatches(out["pairs"], truth)
        problems += oracle.topk_mismatches(
            "cosine_topk", out["exact"], q, sims, truth["topk"][str(q)]["sims"]
        )
        problems += oracle.topk_mismatches("ann_lsh_topk", out["ann"], q, sims)
        rows = self.meta["inputs"]["documents"]["rows"] + self.meta["inputs"]["embeddings"]["rows"]
        return OpResult(rows, wall, wall, problems, {
            "query": q, "pairs": len(out["pairs"]),
            "exact_pairs": sum(1 for j in out["pairs"].values() if j >= 1.0),
            "ann_recall": len({v for v, _ in out["ann"]} & {v for v, _ in out["exact"]})
            / gen.TOP_K,
        })


WORKLOADS = {w.name: w for w in (DirtyResume, CorpusDedup)}
