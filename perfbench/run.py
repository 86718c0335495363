"""Contract-path benchmark for data_contract_engine_spark.

    python3 perfbench/run.py --workload dirty_resume --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one closed-loop client, on
a Spark ``local[k]`` session with k = the CPUs this process may use. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Per-operation series, per-layer detail and host-noise stamps go to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``. Inputs are cached
in ``.perfbench_cache/``; scratch files live in ``.perfbench_work/`` and
are removed at exit. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, hostnoise  # noqa: E402
from perfbench.inputs import CACHE_VERSION  # noqa: E402
from perfbench.stats import median, tail_percentile  # noqa: E402

SETUP_REPS = 3
# a run stops taking new operations after this much wall, so it always
# exits well inside the three minutes it is allowed
RUN_BUDGET_S = 120.0

END_TO_END = {
    "rows_per_s": "rows/s",
    "op_latency_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> (unit, the end-to-end metric it should move, on which workload)
PER_LAYER = {
    "compiler.compile_s": ("s", "op_latency_p50_s", "dirty_resume"),
    "engine.validate_s": ("s", "op_latency_p50_s", "dirty_resume"),
    "engine.driver_s": ("s", "op_latency_p50_s", "dirty_resume"),
    "engine.jobs": ("count", "op_latency_p50_s", "dirty_resume"),
    "drift.score_s": ("s", "op_latency_p50_s", "dirty_resume"),
    "sources.scan_s": ("s", "rows_per_s", "dirty_resume"),
    "sources.scan_cpu_s": ("s", "rows_per_s", "dirty_resume"),
    "engine.action_s": ("s", "rows_per_s", "dirty_resume"),
    "engine.cpu_s": ("s", "rows_per_s", "dirty_resume"),
    "engine.fused_pass_cpu_s": ("s", "rows_per_s", "dirty_resume"),
    "engine.overhead_factor": ("ratio", "rows_per_s", "dirty_resume"),
    "engine.spill_bytes": ("bytes", "rows_per_s", "dirty_resume"),
    "uniqueness.s": ("s", "rows_per_s", "dirty_resume"),
    "uniqueness.cpu_s": ("s", "rows_per_s", "dirty_resume"),
    "uniqueness.shuffle_bytes": ("bytes", "rows_per_s", "dirty_resume"),
    "uniqueness.spill_bytes": ("bytes", "rows_per_s", "dirty_resume"),
    "uniqueness.task_skew": ("ratio", "rows_per_s", "dirty_resume"),
    "referential.s": ("s", "rows_per_s", "dirty_resume"),
    "referential.cpu_s": ("s", "rows_per_s", "dirty_resume"),
    "referential.jobs": ("count", "rows_per_s", "dirty_resume"),
    "sources.violations_write_s": ("s", "rows_per_s", "dirty_resume"),
    "sources.violation_rows": ("count", "rows_per_s", "dirty_resume"),
    "sources.violation_bytes": ("bytes", "rows_per_s", "dirty_resume"),
    "checkpoint.discovery_s": ("s", "op_latency_p50_s", "dirty_resume"),
    "catalog.merge_s": ("s", "op_latency_p50_s", "dirty_resume"),
    "catalog.read_s": ("s", "op_latency_p50_s", "dirty_resume"),
    "checkpoint.rows_read_ratio": ("ratio", "op_latency_p50_s", "dirty_resume"),
    "dedup.minhash_s": ("s", "op_latency_p50_s", "corpus_dedup"),
    "dedup.minhash_cpu_s": ("s", "op_latency_p50_s", "corpus_dedup"),
    "dedup.minhash_shuffle_bytes": ("bytes", "op_latency_p50_s", "corpus_dedup"),
    "dedup.minhash_spill_bytes": ("bytes", "op_latency_p50_s", "corpus_dedup"),
    "similarity.topk_s": ("s", "op_latency_p50_s", "corpus_dedup"),
    "similarity.topk_cpu_s": ("s", "op_latency_p50_s", "corpus_dedup"),
    "similarity.topk_shuffle_bytes": ("bytes", "op_latency_p50_s", "corpus_dedup"),
    "drift.snapshot_s": ("s", "setup_s", "dirty_resume"),
    "jvm.gc_s": ("s", "op_latency_p50_s", "all"),
    "host.spin_ms": ("ms", "op_latency_p50_s", "all"),
    "host.steal_jiffies": ("count", "op_latency_p50_s", "all"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, k: int, eventlog_dir: str = ""):
    from data_contract_engine_spark import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed young generation: G1 otherwise sizes it from pause times,
        # so the JVM's resident set would follow host speed, not the work
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Xmn384m -Djava.io.tmpdir={tmp}",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
        })
    return build_session(app_name="perfbench", master=f"local[{k}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it forked, and wait
    until each has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = set(hostnoise.descendants(proc.pid)) if proc else set()
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run_setup(ctx, wl, session_s: float) -> dict:
    """Input load, drift snapshot and warm-up, repeated; the session can
    only be launched once per process, so its start time is added to
    the median repetition."""
    reps, snaps = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = wl.setup(ctx)
        reps.append(time.perf_counter() - t0)
        snaps.append(out.get("snapshot_s", 0.0))
    return {
        "setup_s": session_s + median(reps),
        "session_s": session_s,
        "reps_s": reps,
        "snapshot_s": median(snaps),
    }


def timed_loop(ctx, wl, seconds: float, ledger, jvm_pid: int, deadline: float) -> dict:
    ops, stamps = [], []
    measured = 0.0
    # a full collection lets the JVM give back heap grown during set-up, so
    # the high-water below is the timed phase's own
    ctx.spark.sparkContext._jvm.System.gc()
    steal0 = hostnoise.steal_jiffies()
    with hostnoise.RssSampler(jvm_pid) as rss:
        i = 0
        while True:
            spin = hostnoise.spin_probe_ms()
            steal = hostnoise.steal_jiffies()
            jit, gc = hostnoise.jvm_counters(ctx.spark)
            ctx.tracer.op = i
            try:
                r = wl.op(ctx, i)
                problems = r.problems
            except Exception as e:  # a failed operation is counted, not fatal
                r, problems = None, [f"{type(e).__name__}: {e}"]
            ctx.tracer.op = None
            ledger.record(f"op {i}", problems)
            jit2, gc2 = hostnoise.jvm_counters(ctx.spark)
            stamps.append({
                "spin_ms": spin,
                "steal_jiffies": hostnoise.steal_jiffies() - steal,
                "jit_ms": jit2 - jit,
                "gc_ms": gc2 - gc,
            })
            if r is not None:
                ops.append({"i": i, "rows": r.rows, "wall_s": r.wall_s,
                            "latency_s": r.latency_s, **r.detail})
                measured += r.wall_s
            i += 1
            if (measured >= seconds and len(ops) >= wl.min_ops) or time.time() > deadline:
                break
    return {
        "ops": ops,
        "stamps": stamps,
        "peak_rss_mb": rss.peak / 2**20,
        "peak_rss_by_pid_mb": {
            ("jvm" if pid == jvm_pid else str(pid)): b / 2**20 for pid, b in rss.at_peak.items()
        },
        "steal_jiffies": hostnoise.steal_jiffies() - steal0,
    }


def end_to_end(loop: dict, setup: dict) -> dict:
    ops = loop["ops"]
    rows = sum(o["rows"] for o in ops)
    wall = sum(o["wall_s"] for o in ops)
    return {
        "rows_per_s": rows / wall if wall else 0.0,
        "op_latency_p50_s": median([o["latency_s"] for o in ops]) if ops else 0.0,
        "setup_s": setup["setup_s"],
        "peak_rss_mb": loop["peak_rss_mb"],
    }


def per_layer(spans, jobs, loop: dict, setup: dict) -> dict:
    """Median over timed operations of each per-layer metric (0 where the
    workload does not reach the layer)."""
    series = {}
    for op in loop["ops"]:
        for k, v in op_layers(op["i"], spans, jobs, op)[0].items():
            series.setdefault(k, []).append(v)
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: median(v) for k, v in series.items()})
    out["drift.snapshot_s"] = setup["snapshot_s"]
    out["host.spin_ms"] = median([s["spin_ms"] for s in loop["stamps"]])
    out["host.steal_jiffies"] = float(loop["steal_jiffies"])
    return out


def op_layers(i: int, spans, jobs, op: dict):
    """(per-layer metrics, raw per-layer totals) of timed operation ``i``."""
    mine = [s for s in spans if s.op == i]
    ids = [s.span_id for s in mine]
    tot = eventlog.attribute(jobs, spans, ids)
    empty = eventlog.LayerTotals()

    def t(layer):
        return tot.get(layer, empty)

    def wall(layer):
        return sum(s.wall for s in mine if s.layer == layer)

    # the timed engine calls: the report, and the resumable run around it
    calls = [s for s in mine if s.refine]
    call_ids = [d for s in calls for d in eventlog.descendants(s.span_id, spans)]
    call_jobs = eventlog.jobs_in(jobs, call_ids)
    job_union = eventlog.union_length((j.start_ms / 1e3, j.end_ms / 1e3) for j in call_jobs)
    engine_cpu = sum(j.total("cpu_ns") for j in call_jobs) / 1e9
    scan_cpu = t("sources.scan").cpu_s
    m = {
        "compiler.compile_s": wall("compiler"),
        "engine.validate_s": wall("engine.validate"),
        "engine.driver_s": sum(s.wall for s in calls) - job_union,
        "engine.jobs": float(len(call_jobs)),
        "drift.score_s": wall("drift.score"),
        "sources.scan_s": wall("sources.scan"),
        "sources.scan_cpu_s": scan_cpu,
        "engine.action_s": t("engine").wall_s,
        "engine.cpu_s": engine_cpu,
        "engine.fused_pass_cpu_s": t("engine").cpu_s,
        "engine.overhead_factor": engine_cpu / scan_cpu if scan_cpu else 0.0,
        "engine.spill_bytes": float(t("engine").spill_bytes),
        "uniqueness.s": t("uniqueness").wall_s,
        "uniqueness.cpu_s": t("uniqueness").cpu_s,
        "uniqueness.shuffle_bytes": float(t("uniqueness").shuffle_bytes),
        "uniqueness.spill_bytes": float(t("uniqueness").spill_bytes),
        "uniqueness.task_skew": t("uniqueness").task_skew if "uniqueness" in tot else 0.0,
        "referential.s": wall("referential"),
        "referential.cpu_s": t("referential").cpu_s,
        "referential.jobs": float(t("referential").jobs),
        "sources.violations_write_s": wall("sources.violations_write"),
        "sources.violation_rows": float(t("sources.violations_write").records_written),
        "sources.violation_bytes": float(t("sources.violations_write").bytes_written),
        "checkpoint.discovery_s": t("checkpoint").wall_s,
        "catalog.merge_s": wall("catalog.merge"),
        "catalog.read_s": wall("catalog.read"),
        "jvm.gc_s": sum(x.gc_s for x in tot.values()),
    }
    pending = op.get("pending_rows")
    if pending:
        m["checkpoint.rows_read_ratio"] = t("sources.violations_write").records_read / pending
    for layer in ("dedup.minhash", "similarity.topk"):
        m[f"{layer}_s"] = wall(layer)
        m[f"{layer}_cpu_s"] = t(layer).cpu_s
        m[f"{layer}_shuffle_bytes"] = float(t(layer).shuffle_bytes)
    m["dedup.minhash_spill_bytes"] = float(t("dedup.minhash").spill_bytes)
    return m, {k: vars(v) for k, v in tot.items()}


def side_path(out_dir: str, workload: str, seed: int, trace: int) -> str:
    return os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.json")


def tracing_overhead(out_dir: str, workload: str, seed: int, traced: dict) -> dict:
    """Each end-to-end metric of this traced run beside the untraced run
    of the same workload, seed and input version, with traced/untraced - 1.
    The untraced values are None when no such run is in ``out_dir``."""
    path = side_path(out_dir, workload, seed, 0)
    base = None
    if os.path.exists(path):
        with open(path) as f:
            side = json.load(f)
        if side.get("input_version") == CACHE_VERSION:
            base = side["metrics"]
    out = {}
    for m in END_TO_END:
        b = base.get(m) if base else None
        out[m] = {"traced": traced[m], "untraced": b,
                  "ratio": traced[m] / b - 1.0 if b else None}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import data_contract_engine_spark  # noqa: F401
        from perfbench import oracle
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS, Ctx
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from a checkout root",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_start = time.time()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", uuid.uuid4().hex[:12])
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    k = max(1, len(os.sched_getaffinity(0)))
    ev_dir = os.path.join(work, "eventlog") if args.trace else ""
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, k, ev_dir)
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, os.path.join(ROOT, ".perfbench_cache"), work)
        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        meta = wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        setup = run_setup(ctx, wl, session_s)
        ledger = oracle.OpLedger()
        loop = timed_loop(ctx, wl, args.seconds, ledger, jvm_pid, t_start + RUN_BUDGET_S)
        e2e = end_to_end(loop, setup)
        spans = tracer.spans
        stop_session(spark)
        spark = None
        side = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "local_k": k, "input_version": CACHE_VERSION,
            "inputs": meta["inputs"],
            "prepare_s": prepare_s, "setup": setup, "ops": loop["ops"],
            "host": loop["stamps"], "peak_rss_by_pid_mb": loop["peak_rss_by_pid_mb"],
            "failures": ledger.failures,
            "failed_ops_ratio": ledger.failed_ratio,
        }
        lat = [o["latency_s"] for o in loop["ops"]]
        side["latency_tail"] = tail_percentile(lat)
        if args.trace:
            jobs = eventlog.parse_jobs(eventlog.read_events(eventlog.find_event_files(ev_dir)))
            layers = per_layer(spans, jobs, loop, setup)
            side.update({
                "tracing_overhead": tracing_overhead(out_dir, args.workload, args.seed, e2e),
                "per_op_layers": [op_layers(o["i"], spans, jobs, o)[1] for o in loop["ops"]],
                "spans": [
                    {"op": s.op, "layer": s.layer, "parent": s.parent, "wall_s": s.wall,
                     "self_s": eventlog.self_time(s, spans)}
                    for s in spans if s.op is not None
                ],
                "expected_moves": {m: {"moves": v[1], "on": v[2]} for m, v in PER_LAYER.items()},
            })
            metrics = {m: {"value": layers[m], "unit": PER_LAYER[m][0]} for m in PER_LAYER}
        else:
            metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END.items()}
        side["metrics"] = {m: v["value"] for m, v in metrics.items()}
        with open(side_path(out_dir, args.workload, args.seed, args.trace), "w") as f:
            json.dump(side, f, indent=1, default=str)
        for failure in ledger.failures:
            print(f"perfbench: {failure}", file=sys.stderr)
        print(json.dumps({
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
