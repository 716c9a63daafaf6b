"""Engine benchmark: one closed-loop client drives the public API.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Runs from the repository root. One process, one SparkSession on
``local[$SPARK_GRAFT_CPUS]``, one client issuing the workload's
operations one after another. A run:

1. starts the session, generates the seeded inputs three times (the
   median generation counts towards ``setup_s``) and runs a check pass
   that executes every operation once, untimed against its reference,
   which also warms the session;
2. runs a fixed number of timed passes over the operations
   (``--seconds`` over the workload's ``pass_s``; order shuffled by the
   seed), reading Spark's status store after each operation;
3. prints the metrics: end-to-end with ``--trace 0``; per-layer with
   ``--trace 1``, where wrappers around each layer's public functions
   record spans and untraced and traced passes interleave, so the
   tracing overhead is measured in the same run.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 1024.0 * 1024.0
#: input generations per set-up; setup_s counts their median
GENERATIONS = 3

OPERATOR_OPS = ("pagerank", "label_propagation", "k_core", "k_truss",
                "shortest_paths", "count_triangles")
INGEST_OPS = {
    "parquet_write": "parquet_write_s", "parquet_read": "parquet_read_s",
    "ipc_write": "ipc_write_s", "ipc_read": "ipc_read_s",
    "flight_put": "flight_put_s", "flight_get": "flight_get_s",
}
SELF_LAYERS = ("bench", "session", "catalog", "queries", "plans", "checkpoint",
               "operators", "llm", "sources", "streaming", "spark")


def pin_environment(run_dir: str) -> dict:
    """Pin what the engine reads from the environment, before the JVM
    starts (the JVM and its Python workers inherit it)."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # temporary files stay in the run directory too (Python's tempfile,
    # the JVM's java.io.tmpdir, no hsperfdata file under /tmp)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import arrow_spark (pandas UDFs, mapInArrow)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    return {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}


def commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Runner:
    """Runs the check pass and the timed passes, and keeps the failures."""

    def __init__(self, ctx, counters, tracer):
        self.ctx = ctx
        self.counters = counters
        self.tracer = tracer
        self.sc = ctx.spark.sparkContext
        self.attempted = 0
        self.failures: list[str] = []
        self.mismatches: list[str] = []

    def _chains(self, ops, rng):
        chains: dict[str, list] = {}
        for op in ops:
            chains.setdefault(op.chain, []).append(op)
        order = list(chains)
        rng.shuffle(order)
        return [op for c in order for op in chains[c]]

    def check_pass(self, ops, rng) -> float:
        """Execute every operation once against its reference (untimed
        checks); returns the engine-side seconds (reference work left
        out)."""
        ref0 = self.ctx.clock.seconds
        t0 = time.perf_counter()
        for op in self._chains(ops, rng):
            self.attempted += 1
            self.sc.setJobGroup("check-" + op.name, "check-" + op.name)
            try:
                df = op.build()
                if op.check_after_execute:
                    op.execute(df)
                err = op.check(df)
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                self.failures.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            if err is not None:
                self.mismatches.append(err[:300])
        self.counters.read("check", 0, 0)  # consume the check pass's jobs
        return time.perf_counter() - t0 - (self.ctx.clock.seconds - ref0)

    def timed_pass(self, ops, rng, k: int, traced: bool) -> dict:
        nxt = self.ctx.extra.get("next_pass")
        if nxt:
            nxt()
        self.tracer.enabled = traced
        wall = 0.0
        recs = []
        span0 = len(self.tracer.spans)
        jobs = self.counters.total_jobs if traced else (lambda: 0)
        for i, op in enumerate(self._chains(ops, rng)):
            self.attempted += 1
            group = f"p{k}-{op.name}"
            self.sc.setJobGroup(group, group)
            self.tracer.op = k * 1000 + i
            t0_ms = int(time.time() * 1000)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("bench.op"):
                    j0 = jobs()
                    df = op.build()
                    t1 = time.perf_counter()
                    j1 = jobs()
                    with self.tracer.span("spark.execute"):
                        op.execute(df)
                    j2 = jobs()
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                wall += time.perf_counter() - t0
                self.failures.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            t2 = time.perf_counter()
            wall += t2 - t0
            c = self.counters.read(group, t0_ms, int(time.time() * 1000) + 1)
            rec = {"op": op, "opid": self.tracer.op, "lat": t2 - t0, "build": t1 - t0, "exec": t2 - t1,
                   "build_jobs": j1 - j0, "exec_jobs": j2 - j1, "c": c}
            if traced:
                rec["persisted"] = self.counters.persisted_rdds()
                if op.name == "stream":
                    rec["progress"] = self.ctx.extra.get("progress", [])
            recs.append(rec)
        self.tracer.enabled = False
        out = {"wall": wall, "recs": recs, "traced": traced,
               "spans": self.tracer.spans[span0:]}
        if traced and "storage" in self.ctx.extra:
            out["storage"] = self.ctx.extra["storage"]()
        return out


def pass_totals(p: dict):
    from perfbench.counters import Counters

    tot = Counters()
    for r in p["recs"]:
        tot.add(r["c"])
    return tot


def pass_rows(p: dict) -> int:
    """Rows a pass moved through storage: the rows the operations declare
    (``ingest``), else the records Spark tasks read and wrote."""
    declared = sum(r["op"].rows for r in p["recs"])
    if declared:
        return declared
    tot = pass_totals(p)
    return tot.input_records + tot.output_records


def best_of_passes(passes, value) -> float:
    """Sum over the operations of each one's least ``value(rec)`` over the
    timed passes (with one pass, that pass's total). A slow spell on a
    shared host lasts seconds, so it slows some operations of one pass,
    and the first pass is still warming up; a median of two passes would
    still carry half of either. (Executor CPU time is not slowed that
    way: taking its least over two passes widened its spread between
    runs, so ``cpu_s`` stays a median.)"""
    best: dict[str, float] = {}
    for p in passes:
        for r in p["recs"]:
            name = r["op"].name
            best[name] = min(best.get(name, value(r)), value(r))
    return sum(best.values())


def per_operation(passes) -> dict:
    """Median latency and the Spark jobs of each pass, per operation."""
    by: dict[str, list] = {}
    for p in passes:
        for r in p["recs"]:
            by.setdefault(r["op"].name, []).append(r)
    return {
        name: {"s": round(statistics.median(r["lat"] for r in rs), 4),
               "jobs": [r["c"].jobs for r in rs]}
        for name, rs in sorted(by.items())
    }


def end_to_end(passes, setup_s) -> tuple[dict, str]:
    from perfbench.trace import tail_percentile

    lats = [r["lat"] for p in passes for r in p["recs"]]
    tail, pct, n = tail_percentile(lats)
    med = statistics.median
    tots = [pass_totals(p) for p in passes]
    wall = best_of_passes(passes, lambda r: r["lat"])
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (med(t.cpu_ns / 1e9 for t in tots), "s"),
        "spark_jobs": (med(t.jobs for t in tots), "count"),
        "shuffle_mb": (med(t.shuffle_write_bytes / MB for t in tots), "MB"),
        "io_rows_per_s": (med(pass_rows(p) for p in passes) / wall, "1/s"),
    }
    # printed, not returned as metrics: one operation's latency spread by
    # more than a quarter between runs on a busy host (see README.md)
    note = (f"query_p50_s = {med(lats):.4f} s, query_tail_s = {tail:.4f} s "
            f"(p{pct:.1f} of {n} operation latencies over {len(passes)} passes)")
    return m, note


def per_layer(passes, untraced, session_s, warmup_s, cores) -> dict:
    from perfbench.trace import self_times, top_level

    def one(p):
        recs, spans = p["recs"], p["spans"]
        tot = pass_totals(p)
        by_op = {r["op"].name: r for r in recs}

        def named(prefix):
            return [s for s in spans if s.name == prefix]

        ckpt = named("checkpoint.ckpt_reset_stats")
        ckpt_ops = {s.op for s in ckpt}
        loop_jobs = sum(r["c"].jobs for r in recs if r["opid"] in ckpt_ops)
        m = {
            "session.start_s": session_s,
            "session.warmup_s": warmup_s,
            "catalog.calls": len(named("catalog.table")),
            "catalog.s": sum(s.dur for s in named("catalog.table")),
            "catalog.jobs": sum(s.jobs for s in named("catalog.table")),
            "queries.build_s": sum(r["build"] for r in recs),
            "queries.build_jobs": sum(r["build_jobs"] for r in recs),
            "queries.exec_s": sum(r["exec"] for r in recs),
            "queries.exec_jobs": sum(r["exec_jobs"] for r in recs),
            "plans.substrait_calls": len(named("plans.run_substrait")) + len(named("plans.compile_plan")),
            "plans.substrait_s": sum(s.dur for s in named("plans.run_substrait") + named("plans.compile_plan")),
            "checkpoint.calls": len(ckpt),
            "checkpoint.s": sum(s.dur for s in ckpt + named("checkpoint.ckpt_release")),
            "checkpoint.release_calls": len(named("checkpoint.ckpt_release")),
            "checkpoint.jobs_per_round": loop_jobs / len(ckpt) if ckpt else 0.0,
            "checkpoint.persisted_rdds": max((r.get("persisted", 0) for r in recs), default=0),
        }
        for name in OPERATOR_OPS:
            r = by_op.get(name)
            m[f"operators.{name}_s"] = r["lat"] if r else 0.0
            m[f"operators.{name}_jobs"] = r["c"].jobs if r else 0
        r = by_op.get("connected_components")
        m["llm.connected_components_s"] = r["lat"] if r else 0.0
        for name, key in INGEST_OPS.items():
            r = by_op.get(name)
            m[f"sources.{key}"] = r["lat"] if r else 0.0
        files, size = p.get("storage", (0, 0))
        written = sum(r["op"].rows for r in recs if r["op"].name in ("parquet_write", "ipc_write"))
        m["sources.files_written"] = files
        m["sources.bytes_stored_per_row"] = size / written if written else 0.0
        m.update(streaming_metrics(by_op.get("stream", {}).get("progress", [])))
        run_s = tot.run_ms / 1e3
        m.update({
            "spark.stages": tot.stages,
            "spark.tasks": tot.tasks,
            "spark.tasks_failed": tot.tasks_failed,
            "spark.run_s": run_s,
            "spark.gc_s": tot.gc_ms / 1e3,
            "spark.shuffle_read_mb": tot.shuffle_read_bytes / MB,
            "spark.input_mb": tot.input_bytes / MB,
            "spark.output_mb": tot.output_bytes / MB,
            "spark.spill_mb": tot.spill_bytes / MB,
            "spark.python_mb_sent": tot.python_sent_bytes / MB,
            "spark.python_mb_recv": tot.python_recv_bytes / MB,
            "spark.slot_idle_frac": 1.0 - run_s / (p["wall"] * cores),
        })
        st = self_times(spans)
        for layer in SELF_LAYERS:
            m[f"self.{layer}_s"] = st.get(layer, 0.0)
        m["trace.spans"] = len(spans)
        m["trace.coverage"] = sum(s.dur for s in top_level(spans)) / p["wall"]
        return m

    per = [one(p) for p in passes]
    out = {k: statistics.median(d[k] for d in per) for k in per[0]}
    out["trace.overhead_s"] = (
        statistics.median(p["wall"] for p in passes)
        - statistics.median(p["wall"] for p in untraced)
    )
    return out


def streaming_metrics(progress: list) -> dict:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    durs = [p["durationMs"]["triggerExecution"] for p in batches]
    rows = sum(p["numInputRows"] for p in batches)
    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": statistics.median(durs) if durs else 0.0,
        "streaming.rows_per_s": rows / (sum(durs) / 1e3) if durs else 0.0,
        "streaming.state_rows": state.get("numRowsTotal", 0),
        "streaming.state_mb": state.get("memoryUsedBytes", 0) / MB,
    }


def unit_of(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb") or "_mb_" in name:
        return "MB"
    if name.endswith(("_frac", ".coverage")):
        return "ratio"
    if name.endswith("per_row"):
        return "B"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "arrow_spark", "__init__.py")):
        print(f"perfbench: no arrow_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    env = pin_environment(run_dir)
    try:
        return _run(args, WORKLOADS[args.workload](), base, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, base, run_dir, env) -> int:
    import numpy as np

    from perfbench.counters import SparkCounters, jvm_pid, peak_rss_mb
    from perfbench.reference import RefClock
    from perfbench.trace import Tracer
    from perfbench.workloads import Context

    tracer = Tracer()
    tracer.enabled = False
    if args.trace:
        # before anything imports arrow_spark.queries (see trace.py)
        tracer.install()
    from arrow_spark import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t
    clock = RefClock()
    ctx = Context(spark, args.seed, "", os.path.join(run_dir, "work"),
                  os.path.join(base, "cache"), clock, tracer)
    try:
        counters = SparkCounters(spark, python=bool(args.trace))
        tracer.job_counter = counters.total_jobs
        gens = []
        for i in range(GENERATIONS):
            if ctx.data_dir:
                shutil.rmtree(ctx.data_dir, ignore_errors=True)
            ctx.data_dir = os.path.join(run_dir, f"data-{i}")
            t = time.perf_counter()
            wl.generate(ctx, ctx.data_dir)
            gens.append(time.perf_counter() - t)
        os.makedirs(ctx.work_dir, exist_ok=True)
        t_ops = time.perf_counter()
        ops = wl.ops(ctx)
        rng = np.random.default_rng(args.seed)
        runner = Runner(ctx, counters, tracer)
        phases = {"start": session_s, "generate": sum(gens),
                  "ops": time.perf_counter() - t_ops}
        warmup_s = runner.check_pass(ops, rng)
        phases["check"] = warmup_s
        # process start to warm session, counting one (the median) input
        # generation and no reference work
        setup_s = (time.perf_counter() - T_PROCESS - clock.seconds
                   - (sum(gens) - statistics.median(gens)))
        # The pass count follows from --seconds and the workload's pass_s,
        # not from the clock, so a slow host measures the
        # same passes as a fast one. A traced run interleaves untraced and
        # traced passes as U T T U, so the session warming up over the
        # run does not bias the overhead either way.
        n_passes = max(1, round(args.seconds / wl.pass_s))
        if args.trace:
            n_passes = 4 * max(1, round(n_passes / 2))
        t0 = time.perf_counter()
        passes = [runner.timed_pass(ops, rng, k, bool(args.trace) and k % 4 in (1, 2))
                  for k in range(n_passes)]
        phases["timed"] = time.perf_counter() - t0
        rss = peak_rss_mb([os.getpid(), jvm_pid(spark)])
        good = [p for p in passes if p["recs"]]
        if args.trace:
            traced_p = [p for p in good if p["traced"]]
            plain = [p for p in good if not p["traced"]]
            metrics = per_layer(traced_p, plain, session_s, warmup_s,
                                int(env["SPARK_GRAFT_CPUS"]))
            metrics["peak_rss_mb"] = rss
            metrics = {k2: (v, unit_of(k2)) for k2, v in metrics.items()}
            _write_spans(base, wl.name, args.seed, [s for p in traced_p for s in p["spans"]])
            note = ""
        else:
            metrics, note = end_to_end(good, setup_s)
        failed = len(runner.failures) + len(runner.mismatches)
        import bench

        prov = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": commit(), **env,
            "spark_local_dirs": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
            "pyspark": __import__("pyspark").__version__,
            "pyarrow": __import__("pyarrow").__version__,
            "inputs": getattr(wl, "sf", None) or getattr(wl, "n_edges", None)
            or getattr(wl, "events_sf", None),
            "pass_walls_s": [round(p["wall"], 3) for p in passes],
            "generations_s": [round(g, 3) for g in gens],
            "reference_s": round(clock.seconds, 3),
            "host_calibration": bench._host_calibration(),
            "phases_s": {k2: round(v, 2) for k2, v in phases.items()},
            "process_s": round(time.perf_counter() - T_PROCESS, 2),
        }
        print("provenance " + json.dumps(prov, sort_keys=True))
        print("operations " + json.dumps(per_operation(good)))
        for line in runner.failures + runner.mismatches:
            print("FAILED " + line)
        print(f"error_rate = {failed}/{runner.attempted}")
        if note:
            print(note)
        result = {
            "correct": not runner.mismatches and not runner.failures,
            "attempted": runner.attempted,
            "failed": failed,
            "metrics": {k2: {"value": float(v), "unit": u} for k2, (v, u) in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        close = ctx.extra.get("close")
        if close:
            close()
        _stop(spark)


def _write_spans(base, workload, seed, spans) -> None:
    path = os.path.join(base, f"spans-{workload}-{seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                                "parent": s.parent, "op": s.op, "main": s.main,
                                "jobs": s.jobs}) + "\n")


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
