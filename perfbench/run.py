"""Verb-level benchmark of the oracle-schema-copy Spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload subgraph --seed 1 --seconds 40 --trace 0

One run is one process with one Spark JVM at ``local[<nproc>]``, the
engine at its own defaults. It builds (once per checkout) a deterministic
sf0.1-shaped fixture, starts a session, then runs the workload's verb
cycles for about ``--seconds`` seconds: cycle 0 is the workload's first
verb alone on a cold JVM, cycle 1 issues every verb once and is what the
metrics measure; later cycles, if the window holds them, go to the detail
record only. Each verb's output is checked against DuckDB outside the
timed region. The last stdout line is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the engine's public functions are wrapped in spans and the per-layer
metrics are reported instead. The line before it is a detail record
(machine facts, per-verb times, failures, layer-check
problems). Everything the run writes lives in a private directory under
``perfbench/.work`` that is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "oracle_schema_copy_spark"
HELD_OUT_SEED = 7_000_003  # never used while tuning; reserved for claim checks
# the one cycle the metrics describe, so they mean the same at any speed
MEASURED_CYCLE = 1

from fixture import ensure_fixture  # noqa: E402
from workloads import WORKLOADS, CycleAborted, Runner  # noqa: E402


def _meminfo_kb(key: str, path: str = "/proc/meminfo") -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# tracing: which public functions become spans
# ---------------------------------------------------------------------------


def install_tracing(tracer) -> None:
    from oracle_schema_copy_spark import engine as engine_mod
    from oracle_schema_copy_spark.operators import dedup, mutate, similarity, walk
    from oracle_schema_copy_spark.plans import oplog
    from oracle_schema_copy_spark.sources import derby, jdbc, jdbc_mutations, tables
    from spans import dir_bytes

    def table_bytes(sp, args, kwargs, result):
        wh, table = args[0], args[1]
        sp.info["bytes"] = dir_bytes(wh._dir(table))

    def log_stats(sp, args, kwargs, result):
        log = args[1]
        with open(os.path.join(log, "manifest.jsonl")) as f:
            sp.info["records"] = sum(1 for _ in f)
        sp.info["payload_bytes"] = dir_bytes(os.path.join(log, "payloads"))

    def statements(sp, args, kwargs, result):
        sp.info["statements"] = len(result)

    def frontier(sp, args, kwargs, sels):
        def count():
            return {"frontier_rows": sum(
                (s.probe if s.rows is not None else s.keys).count() for s in sels
            )}
        sp.info["aux"] = count

    def candidates(sp, args, kwargs, cands):
        sp.info["aux"] = lambda: {"candidates": cands.count()}

    def topk_candidates(sp, args, kwargs, result):
        # distinct (query, neighbor) pairs sharing a bucket the operator
        # keeps (<= max_bucket ids): the candidates lsh_banded_topk rescores
        from pyspark.sql import functions as F

        corpus, queries = args[0], args[1]

        def count():
            cb = similarity.banded_bucket_keys(
                corpus, bands=kwargs["bands"], planes_per_band=kwargs["planes_per_band"],
                plane_stride=kwargs["plane_stride"],
            )
            keep = cb.groupBy("bk").count().where(F.col("count") <= kwargs["max_bucket"]).select("bk")
            kept = cb.join(keep, "bk")
            q = kept.join(queries.select("vec_id"), "vec_id", "left_semi").select(
                F.col("vec_id").alias("q"), "bk")
            pairs = q.join(kept, "bk").where(F.col("q") != F.col("vec_id"))
            return {"candidates": pairs.select("q", "vec_id").distinct().count()}

        sp.info["aux"] = count

    wraps = [
        (tables, "load_table", "tables.load", None),
        (engine_mod, "load_table", "tables.load", None),
        (walk, "walk_linked", "walk.walk_linked", frontier),
        (walk, "copy_selections", "walk.copy_selections", None),
        (oplog, "export_all", "oplog.export_all", log_stats),
        (oplog, "replay_atomic", "oplog.replay_atomic", None),
        (oplog.Warehouse, "write", "warehouse.write", table_bytes),
        (oplog.Warehouse, "rewrite", "warehouse.rewrite", table_bytes),
        (mutate, "merge_upsert", "mutate.merge_upsert", None),
        (mutate, "delete_by_keys", "mutate.delete_by_keys", None),
        (jdbc, "write_table", "jdbc.write_table", None),
        (jdbc_mutations, "write_table", "jdbc.write_table", None),
        (jdbc_mutations, "jdbc_upsert", "jdbc_mutations.upsert", statements),
        (jdbc_mutations, "jdbc_delete", "jdbc_mutations.delete", statements),
        (derby.DerbyTarget, "insert", "derby.insert", None),
        (derby.DerbyTarget, "upsert", "derby.upsert", None),
        (derby.DerbyTarget, "delete", "derby.delete", None),
        (dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", None),
        (dedup, "minhash_candidate_pairs", "dedup.minhash_candidate_pairs", candidates),
        (similarity, "lsh_banded_topk", "similarity.lsh_banded_topk", topk_candidates),
        (similarity, "banded_bucket_keys", "similarity.banded_bucket_keys", None),
    ]
    for verb in ("copy_tree", "delete_tree", "update", "export_schema", "import_schema"):
        wraps.append((engine_mod.Engine, verb, f"engine.{verb}", None))
    for owner, attr, name, after in wraps:
        tracer.wrap(owner, attr, name, after)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(runner: Runner, kinds, setup: dict) -> tuple[dict, dict]:
    ops = runner.ops
    steady = [op for op in ops if op.cycle == MEASURED_CYCLE and op.ok]
    per_kind = {}
    for k in kinds:
        xs = [op.seconds for op in steady if op.kind == k]
        later = [op.seconds for op in ops if op.cycle > MEASURED_CYCLE and op.ok and op.kind == k]
        per_kind[k] = {"s": sum(xs), "n": len(xs), "later_median_s": _median(later), "later_n": len(later)}
    moved = [op for op in steady if op.src_bytes > 0]
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "first_verb_s": (ops[0].seconds or 0.0, "s"),
        "cycle_s": (sum(op.seconds for op in steady), "s"),
        "rows_per_s": (
            sum(op.rows for op in steady) / max(1e-9, sum(op.seconds for op in steady)), "rows/s"
        ),
        "bytes_per_user_byte": (
            sum(op.bytes_written for op in moved) / max(1e-9, sum(op.src_bytes for op in moved)),
            "ratio",
        ),
    }
    return metrics, per_kind


def per_layer(tracer, setup: dict, rss_mb: float) -> dict:
    sp_all = tracer.spans
    verbs = [s for s in sp_all if s.parent is None]
    steady_ids = {s.id for s in verbs if s.info.get("cycle") == MEASURED_CYCLE and "error" not in s.info}
    steady = [s for s in verbs if s.id in steady_ids]

    def named(name, ids=steady_ids):
        return [s for s in sp_all if s.name == name and s.verb in ids]

    def jobs(s):
        return tracer.spark_figures(tracer.subtree(s))["jobs"]

    def durs(name):
        return _median(s.dur for s in named(name))

    steady_s = sum(s.dur for s in steady)

    def share(name):
        # layers one workload bypasses report a share (0 there), not a time
        return sum(s.dur for s in named(name)) / steady_s if steady_s else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.jvm_launch_s": (setup["jvm_launch_s"], "s"),
        "session.first_job_s": (setup["first_job_s"], "s"),
        # peak RSS swings 2.3-3.6 GB between identical runs with ParallelGC's
        # heap growth, too wide for an end-to-end bound
        "peak_rss_mb": (rss_mb, "MB"),
        "tables.load_s": (
            sum(s.dur for s in named("tables.load", {verbs[0].id})) if verbs else 0.0, "s"
        ),
    }
    wl = named("walk.walk_linked")
    cs = named("walk.copy_selections")
    copies = [s for s in steady if s.name in ("verb.copy_tree", "verb.jdbc_copy_tree")]
    scanned = sum(tracer.spark_figures(tracer.subtree(s))["input_rows"] for s in copies)
    selected = sum(s.info.get("rows", 0) for s in copies)
    m.update({
        "walk.walk_linked_share": (share("walk.walk_linked"), "ratio"),
        "walk.walk_linked_jobs": (_median(jobs(s) for s in wl), "count"),
        "walk.copy_selections_share": (share("walk.copy_selections"), "ratio"),
        "walk.copy_selections_jobs": (_median(jobs(s) for s in cs), "count"),
        "walk.frontier_rows": (_median(s.info.get("frontier_rows", 0) for s in wl), "rows"),
        "walk.rows_scanned_per_row_selected": (scanned / selected if selected else 0.0, "ratio"),
    })
    eng = [s for s in sp_all if s.name.startswith("engine.") and s.verb in steady_ids]
    m.update({
        "engine.jobs_per_verb": (_mean(jobs(s) for s in eng), "count"),
        "engine.verb_self_s": (_mean(tracer.self_s(s) for s in eng), "s"),
    })
    ex = named("oplog.export_all")
    whs = named("warehouse.write") + named("warehouse.rewrite")
    m.update({
        "oplog.export_all_share": (share("oplog.export_all"), "ratio"),
        "oplog.replay_atomic_share": (share("oplog.replay_atomic"), "ratio"),
        "oplog.records": (_median(s.info.get("records", 0) for s in ex), "count"),
        "oplog.payload_bytes": (_median(s.info.get("payload_bytes", 0) for s in ex), "bytes"),
        "warehouse.write_s": (durs("warehouse.write"), "s"),
        "warehouse.rewrite_s": (durs("warehouse.rewrite"), "s"),
        "warehouse.bytes_written": (_mean(s.info.get("bytes", 0) for s in whs), "bytes"),
    })
    m.update({
        "mutate.merge_upsert_share": (share("mutate.merge_upsert"), "ratio"),
        "mutate.guard_jobs": (_median(jobs(s) for s in named("mutate.merge_upsert")), "count"),
        "mutate.delete_by_keys_s": (durs("mutate.delete_by_keys"), "s"),
    })
    jverbs = [s for s in steady if s.name in ("verb.jdbc_copy_tree", "verb.jdbc_upsert")]
    jm = named("jdbc_mutations.upsert") + named("jdbc_mutations.delete")
    jm_all = [s for s in sp_all if s.name.startswith("jdbc_mutations.")]
    m.update({
        "jdbc.write_table_share": (share("jdbc.write_table"), "ratio"),
        "jdbc.rows_written": (_mean(s.info.get("rows", 0) for s in jverbs), "rows"),
        "jdbc_mutations.upsert_share": (share("jdbc_mutations.upsert"), "ratio"),
        "jdbc_mutations.delete_share": (share("jdbc_mutations.delete"), "ratio"),
        "jdbc_mutations.statements": (_mean(s.info.get("statements", 0) for s in jm), "count"),
        "jdbc_mutations.failed_statements": (sum(1 for s in jm_all if "error" in s.info), "count"),
    })
    cands = sum(s.info.get("candidates", 0) for s in named("dedup.minhash_candidate_pairs"))
    pairs = sum(s.info.get("result_rows", 0) for s in steady if s.name == "verb.dedup")
    tk_cands = named("similarity.lsh_banded_topk")
    tk_verbs = [s for s in steady if s.name == "verb.topk"]
    tk_c = sum(s.info.get("candidates", 0) for s in tk_cands)
    tk_q = sum(s.info.get("rows", 0) for s in tk_verbs)
    tk_r = sum(s.info.get("result_rows", 0) for s in tk_verbs)
    m.update({
        "dedup.minhash_lsh_pairs_share": (share("dedup.minhash_lsh_pairs"), "ratio"),
        "dedup.candidate_pairs": (_median(s.info.get("candidates", 0) for s in named("dedup.minhash_candidate_pairs")), "count"),
        "dedup.useful_share": (pairs / cands if cands else 0.0, "ratio"),
        "similarity.lsh_banded_topk_share": (share("similarity.lsh_banded_topk"), "ratio"),
        "similarity.candidates_per_query": (tk_c / tk_q if tk_q else 0.0, "count"),
        "similarity.useful_share": (tk_r / tk_c if tk_c else 0.0, "ratio"),
    })
    figs = [(s, tracer.spark_figures(tracer.subtree(s))) for s in steady]
    run_s = sum(f["run_s"] for _, f in figs)
    gc_s = sum(f["gc_s"] for _, f in figs)
    m.update({
        "spark.jobs": (_mean(f["jobs"] for _, f in figs), "count"),
        "spark.stages": (_mean(f["stages"] for _, f in figs), "count"),
        "spark.tasks": (_mean(f["tasks"] for _, f in figs), "count"),
        "spark.exec_s": (_mean(f["exec_s"] for _, f in figs), "s"),
        "driver.build_s": (_mean(s.dur - f["exec_s"] for s, f in figs), "s"),
        "spark.task_cpu_s": (_mean(f["cpu_s"] for _, f in figs), "s"),
        "spark.gc_s": (_mean(f["gc_s"] for _, f in figs), "s"),
        "spark.gc_share": (gc_s / run_s if run_s else 0.0, "ratio"),
        "spark.shuffle_read_bytes": (_mean(f["shuffle_read"] for _, f in figs), "bytes"),
        "spark.shuffle_write_bytes": (_mean(f["shuffle_write"] for _, f in figs), "bytes"),
        "spark.spill_bytes": (_mean(f["spill"] for _, f in figs), "bytes"),
        "spark.input_rows": (_mean(f["input_rows"] for _, f in figs), "rows"),
    })
    verb_time = sum(s.dur for s in verbs)
    m["trace.overhead_s"] = (tracer.overhead_s / len(verbs) if verbs else 0.0, "s")
    m["trace.overhead_share"] = (tracer.overhead_s / verb_time if verb_time else 0.0, "ratio")
    return m


def span_summary(tracer) -> dict:
    """Per span name: calls, median duration and self time, jobs and the
    wall time those jobs covered (all cycles)."""
    out: dict[str, dict] = {}
    for name in sorted({s.name for s in tracer.spans}):
        ss = [s for s in tracer.spans if s.name == name]
        own = tracer.spark_figures(ss)
        out[name] = {
            "calls": len(ss),
            "median_s": round(_median(s.dur for s in ss), 4),
            "median_self_s": round(_median(tracer.self_s(s) for s in ss), 4),
            "own_jobs": own["jobs"],
            "own_exec_s": round(own["exec_s"], 3),
        }
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _rss_kb(pid: int | str) -> int:
    try:
        return _meminfo_kb("VmHWM", f"/proc/{pid}/status")
    except OSError:
        return 0


def run(args, fixture_dir: str, fixture_s: float, run_dir: str) -> int:
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.chdir(run_dir)  # Spark and Derby leave relative-path files in the CWD

    nproc = len(os.sched_getaffinity(0))
    machine = {
        "nproc": nproc,
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "loadavg_before": _loadavg(),
        "fixture_build_s": round(fixture_s, 3),
    }

    sys.path.insert(0, ROOT)
    import oracle_schema_copy_spark

    if os.path.dirname(os.path.abspath(oracle_schema_copy_spark.__file__)) != os.path.join(ROOT, PACKAGE):
        print(f"[perfbench] {PACKAGE} resolved outside the checkout", file=sys.stderr)
        return 2
    from pyspark import SparkContext

    from checks import Oracle
    from oracle_schema_copy_spark.catalog import tpch_catalog
    from oracle_schema_copy_spark.engine import Engine
    from oracle_schema_copy_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cpus=nproc)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    setup = {"setup_s": t2 - T_START - fixture_s, "jvm_launch_s": t1 - t0, "first_job_s": t2 - t1}
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    machine["jvm_xmx_mb"] = jvm.java.lang.Runtime.getRuntime().maxMemory() // (1 << 20)
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        install_tracing(tracer)

    oracle = Oracle(fixture_dir)
    runner = Runner(spark, Engine(spark, tpch_catalog(fixture_dir)), oracle, run_dir, args.seed, tracer)
    wl = WORKLOADS[args.workload](runner)
    walls: list[float] = []
    win0 = time.perf_counter()
    try:
        while True:
            c0 = time.perf_counter()
            try:
                wl.cycle(len(walls), warmup=not walls)
            except CycleAborted:
                pass
            walls.append(time.perf_counter() - c0)
            elapsed = time.perf_counter() - win0
            # cycle 0 is the cold first verb; the measured cycle always runs
            if len(walls) > MEASURED_CYCLE and (elapsed + walls[-1] > args.seconds or elapsed > 120):
                break
        rss_mb = (_rss_kb(jvm_pid) + _rss_kb("self")) / 1024
    finally:
        t_down = time.perf_counter()
        wl.close()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        os.chdir(ROOT)
        teardown_s = time.perf_counter() - t_down
    machine["loadavg_after"] = _loadavg()

    ops = runner.ops
    wrong = sum(1 for op in ops if (op.error or "").startswith("CheckFailed"))
    failed = sum(1 for op in ops if not op.ok)
    metrics, per_kind = end_to_end(runner, wl.kinds, setup)
    problems = []
    if tracer is not None:
        problems = tracer.check(wl.spans | {f"verb.{k}" for k in wl.kinds})
        metrics = per_layer(tracer, setup, rss_mb)
    missing = [k for k, v in per_kind.items() if v["n"] == 0]
    if missing:
        problems.append(f"no sample in the measured cycle for {missing}")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "trace": bool(args.trace),
        "machine": machine,
        "setup": {k: round(v, 4) for k, v in setup.items()},
        "peak_rss_mb": round(rss_mb, 1),
        "cycles": len(walls),
        "cycle_walls_s": [round(w, 2) for w in walls],
        "check_s": round(runner.check_s, 2),
        "teardown_s": round(teardown_s, 2),
        "per_verb": {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in per_kind.items()},
        "failures": [{"kind": op.kind, "cycle": op.cycle, "error": op.error} for op in ops if not op.ok],
        "wrong_outputs": wrong,
        "problems": problems,
    }
    if tracer is not None:
        detail["trace_overhead_s"] = round(tracer.overhead_s, 4)
        detail["spans"] = span_summary(tracer)
    print(json.dumps(detail))
    for p in problems:
        print(f"[perfbench] layer check: {p}", file=sys.stderr)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"[perfbench] no {PACKAGE}/ package next to perfbench/: nothing to measure", file=sys.stderr)
        return 2
    t = time.perf_counter()
    fixture_dir = ensure_fixture(os.path.join(WORK, "cache"))
    fixture_s = time.perf_counter() - t
    run_dir = tempfile.mkdtemp(dir=WORK, prefix="run-")
    try:
        return run(args, fixture_dir, fixture_s, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
