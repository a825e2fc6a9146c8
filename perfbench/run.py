"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 1 --trace 0

Run from the repository root.  The run generates its inputs from the
seed under ``.perfbench/`` in the current directory, starts a session
with the engine's defaults and runs one untimed warm-up pass.  Then it
runs at least ``MIN_PASSES`` timed passes, and more while less than
``--seconds`` of pass time has accumulated.  Every timed operation's
result is checked outside the timed window.  ``--trace 1`` instead runs
one traced pass and one plain pass with Spark's event log on, and
reports the per-layer metrics.  The last line of standard output is the
result object; all progress goes to standard error.  See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.abspath(os.getcwd())
# the per-operation minimum over this many passes filters bursts of load
# from other tenants; a fixed count keeps the JVM equally warm in every run
MIN_PASSES = 3
# engine knobs that change behaviour: the benchmark measures the defaults
BEHAVIOUR_KNOBS = ("SPARK_GRAFT_OVERLAP", "SPARK_GRAFT_BUCKET_ALIGN_MAX", "SPARK_GRAFT_SF_DIR")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _process_tree(root_pid: int) -> dict[int, str]:
    """pid → /proc stat line of ``root_pid`` and all its descendants: the
    driver, the gateway JVM and its Python workers."""
    stats: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stats[int(entry)] = f.read()
            except OSError:
                continue
    parent = {pid: int(st[st.rindex(")") + 2:].split()[1]) for pid, st in stats.items()}
    tree, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(p for p, pp in parent.items() if pp == pid and p not in tree)
    return {pid: stats[pid] for pid in tree if pid in stats}


def tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """Resident set of the process tree, split into (JVM, Python)."""
    jvm = py = 0
    for pid, st in _process_tree(root_pid).items():
        rss = int(st[st.rindex(")") + 2:].split()[21]) * os.sysconf("SC_PAGE_SIZE")
        if st[st.index("(") + 1:st.rindex(")")] == "java":
            jvm += rss
        else:
            py += rss
    return jvm, py


class RssSampler(threading.Thread):
    """Samples the process tree's RSS while ``active`` is set."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = self.peak_jvm = self.peak_python = 0
        self.active = threading.Event()
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.is_set():
            if self.active.is_set():
                jvm, py = tree_rss_bytes(os.getpid())
                self.peak = max(self.peak, jvm + py)
                self.peak_jvm = max(self.peak_jvm, jvm)
                self.peak_python = max(self.peak_python, py)
            self._stop_ev.wait(self.interval)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def prepare_env(run_dir: str, trace: bool) -> None:
    """Environment the engine and its workers read at session start."""
    for knob in BEHAVIOUR_KNOBS:
        os.environ.pop(knob, None)
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # no JVM may write outside the run directory: -XX:-UsePerfData stops
    # the hsperfdata file HotSpot otherwise keeps under /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = [
        "--driver-java-options", jvm_opts,
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(c) for c in conf + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()


class Runner:
    """Runs passes over a workload's operations and counts outcomes.

    ``sampler`` is given for traced runs only: sampling the process tree
    takes the interpreter lock, which would add noise to timed passes.
    """

    def __init__(self, ctx, ops, sampler: RssSampler | None = None):
        self.ctx = ctx
        self.ops = ops
        self.sc = ctx.spark.sparkContext
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.tracer = None

    @contextmanager
    def _sampling(self):
        if self.sampler:
            self.sampler.active.set()
        try:
            yield
        finally:
            if self.sampler:
                self.sampler.active.clear()

    def _timed(self, op, group: str):
        """Build and run one operation; returns (seconds, jobs, result)."""
        self.sc.setJobGroup(group, op.name)
        with self._sampling():
            t0 = time.perf_counter()
            result = op.run(self.ctx, op.build(self.ctx))
            secs = time.perf_counter() - t0
        return secs, len(self.sc.statusTracker().getJobIdsForGroup(group)), result

    def _traced(self, op, op_id: int):
        tr = self.tracer
        tr.op_id = op_id
        with self._sampling():
            t0 = time.perf_counter()
            with tr.span(op.name) as root:
                root["pairs"] = op.pairs
                with tr.span("construct"):
                    handle = op.build(self.ctx)
                with tr.span("execute"):
                    result = op.run(self.ctx, handle)
                    tr.sample_storage()
                del handle
            secs = time.perf_counter() - t0
        jobs = sum(s.get("tracker_jobs", 0) for s in tr.spans if s["op"] == op_id)
        return secs, jobs, result

    def run_pass(self, label: str, check: bool, traced: bool = False) -> dict:
        """One pass over the workload's operations."""
        wall, jobs, per_op = 0.0, 0, {}
        for i, op in enumerate(self.ops):
            if check:
                self.attempted += 1
            try:
                if traced:
                    secs, njobs, result = self._traced(op, i)
                else:
                    secs, njobs, result = self._timed(op, f"pb-{label}-{op.name}")
            except Exception:  # noqa: BLE001 — count, report, keep measuring
                log(f"{label} {op.name} raised:\n{traceback.format_exc()}")
                self.failed += check
                self.ctx.spark.catalog.clearCache()
                continue
            wall += secs
            jobs += njobs
            per_op[op.name] = {"s": secs, "jobs": njobs}
            if check:
                t0 = time.perf_counter()
                self.sc.setJobGroup("pb-check", "check")
                try:
                    reason = op.check(self.ctx, result)
                except Exception:  # noqa: BLE001
                    reason = traceback.format_exc()
                self.check_s += time.perf_counter() - t0
                if reason:
                    self.failed += 1
                    log(f"{label} {op.name} output check failed: {reason}")
            del result
            if traced:
                gc.collect()
                per_op[op.name]["leaked_rdds"] = self.tracer.persisted_rdds()
            self.ctx.spark.catalog.clearCache()
        log(f"{label}: {wall:.3f} s, {jobs} jobs: {json.dumps(per_op)}")
        return {"wall": wall, "jobs": jobs, "ops": per_op}

    def traced_pass(self, warehouse_dir: str) -> dict:
        """One pass with every layer function wrapped in spans."""
        from perfbench.trace import Tracer

        self.tracer = Tracer(self.sc, warehouse_dir)
        self.tracer.install()
        check_before = self.check_s
        try:
            traced = self.run_pass("traced", check=True, traced=True)
        finally:
            self.tracer.uninstall()
        traced["check_s"] = self.check_s - check_before
        return traced


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    state_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state_dir, f"run-{os.getpid()}")
    out_dir = os.path.join(state_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return _measure(args, run_dir, state_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, run_dir: str, state_dir: str, out_dir: str) -> int:
    t_setup = time.perf_counter()
    from perfbench import check, inputs, workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {workloads.WORKLOADS}")
        return 2
    from map_reduce_framework_spark.plans import registry  # noqa: F401 — import cost is set-up
    from map_reduce_framework_spark.session import get_spark

    tables_dir = os.path.join(run_dir, "tables")
    ctx = workloads.Context(spark=None, tables_dir=tables_dir)
    if args.workload == workloads.FACADE:
        workloads.prepare_facade(ctx, run_dir, args.seed)
    else:
        inputs.write_tables(tables_dir, args.seed)
    inputs_s = time.perf_counter() - t_setup

    # expected outputs: not part of set-up (the check is outside the measure)
    if args.workload != workloads.FACADE:
        ctx.oracles = check.Oracles(
            tables_dir, os.path.join(state_dir, "cache", check.input_key(args.seed))
        )
        for name in workloads.QUERY_WORKLOADS[args.workload]:
            ctx.oracles.expected(name)
        ctx.oracles.close()

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    start_s = time.perf_counter() - t0
    sampler = RssSampler() if args.trace else None
    if sampler:
        sampler.start()
    try:
        ops = workloads.ops_for(args.workload, ctx)
        runner = Runner(ctx, ops, sampler)
        t0 = time.perf_counter()
        runner.run_pass("warmup", check=False)
        warmup_s = time.perf_counter() - t0
        setup_s = inputs_s + start_s + warmup_s
        log(f"setup {setup_s:.3f} s (inputs {inputs_s:.3f}, session {start_s:.3f}, warm-up {warmup_s:.3f})")

        passes = []
        if not args.trace:
            while len(passes) < MIN_PASSES or sum(p["wall"] for p in passes) < args.seconds:
                passes.append(runner.run_pass(f"pass{len(passes)}", check=True))
        else:
            # traced first: the later plain pass runs on a warmer JVM, so
            # the overhead reported errs high rather than low
            traced = runner.traced_pass(os.environ["SPARK_GRAFT_WAREHOUSE"])
            passes.append(runner.run_pass("plain", check=True))
        cores = spark.sparkContext.defaultParallelism
    finally:
        if sampler:
            sampler.stop()
        stop_spark(spark)

    correct = runner.failed == 0
    if not args.trace:
        metrics = {
            "wall_s": best_pass_wall(passes),
            "jobs": statistics.median(p["jobs"] for p in passes),
            "setup_s": setup_s,
        }
        units = metric_units("end_to_end")
    else:
        from perfbench import trace

        jobs = trace.fold_events(trace.read_event_log(os.path.join(run_dir, "eventlog")))
        spans = runner.tracer.spans
        metrics = trace.layer_metrics(spans, jobs, cores, sum(op.pairs for op in ops))
        metrics.update(
            {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "cache.storage_mb_peak": runner.tracer.storage_mb_peak,
                "cache.leaked_blocks": sum(o.get("leaked_rdds", 0) for o in traced["ops"].values()),
                "check.s": traced["check_s"],
                "check.mismatches": runner.failed,
                "rss.peak_mb": sampler.peak / 1e6,
                "rss.jvm_peak_mb": sampler.peak_jvm / 1e6,
                "rss.python_peak_mb": sampler.peak_python / 1e6,
                "trace.wall_s": traced["wall"],
                "trace.plain_wall_s": passes[0]["wall"],
                "trace.overhead_frac": traced["wall"] / passes[0]["wall"] - 1,
                "mapreduce.run_map_reduce_df.groups": len(ctx.facade.get("df_expected", ())),
            }
        )
        units = metric_units("per_layer")
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump({"spans": spans, "jobs": jobs}, f)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup": {"inputs_s": inputs_s, "session_s": start_s, "warmup_s": warmup_s},
        "passes": passes,
    }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f)
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
                },
            }
        ),
        flush=True,
    )
    return 0


def best_pass_wall(passes: list[dict]) -> float:
    """Sum over operations of each one's fastest time across the passes.

    Load from other tenants of the host only ever adds time, so the
    per-operation minimum is the steadiest estimate of the engine's own
    cost; an operation that failed in every pass contributes nothing
    (and is counted in ``failed``).
    """
    names = {n for p in passes for n in p["ops"]}
    return sum(min(p["ops"][n]["s"] for p in passes if n in p["ops"]) for n in names)


def metric_units(kind: str) -> dict[str, str]:
    """Name → unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
