"""perfbench: seeded feature-store benchmark over the four user paths.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 15 --trace 0

Workloads: pipelines (train_set, curate and stream_sliding back to back),
serve, and each Spark path alone by name (see README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
variant and prints the per-layer metrics.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the exit code is
non-zero when an output check fails.  Everything a run writes (inputs, Spark
local dirs, warehouse, checkpoints) lives under ``.perfbench_run/`` in the
checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUPS = 3  # set-ups per run; setup_s is their median plus the warm-up
TAIL_MIN_BEYOND = 10
# serve: client processes per untraced run.  One process's request latency
# differs by up to +-15% from the next on the same seed and host (it is the
# program's own per-process variation; the reference does not see it), so a
# run averages over several fresh processes.
SERVE_CLIENTS = 3


def _isolate(scratch: str) -> None:
    """Point every file Spark, Derby and Python write at ``scratch``."""
    # Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # one shuffle partition per core: the inputs are small, and at the
    # session default of 32 the stateful streaming operator alone pays about
    # a second of Python-worker time per partition and micro-batch
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", str(CORES))
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    java_opts = f"-Djava.io.tmpdir={scratch} -Dderby.system.home={scratch} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions='{java_opts}'",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    os.chdir(scratch)


def tail(values, min_beyond: int = TAIL_MIN_BEYOND):
    """(value, percentile, n): the highest of p50..p99.9 with at least
    ``min_beyond`` samples above it, or None when there are too few."""
    import numpy as np

    n = len(values)
    for p in (99.9, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= min_beyond:
            return float(np.percentile(values, p)), p, n
    return None


def _stop_spark() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as e:  # the gateway can be cut mid-call (SIGTERM)
        _log(f"stopping Spark: {e!r}; the JVM is stopped below")
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _become_subreaper() -> None:
    """Make this process the subreaper of everything it starts, so that an
    orphaned descendant (a Python worker outliving the JVM, a helper's
    helper) is re-parented here and :func:`_reap_children` can wait for it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children():
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            out.append(int(d))
    return out


def _reap_children(grace_s: float = 10.0) -> None:
    """Stop every process still below this one and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        kids = _children()
        if not kids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _terminate(signum, frame):
    # run the clean-up in main's finally blocks on SIGTERM too
    raise SystemExit(128 + signum)


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _peak_rss_mb() -> float:
    """Peak resident memory of this process plus its largest waited-for child
    (the JVM; call after it has exited)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    child = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + child) / 1024.0


class Bench:
    def __init__(self, args, scratch: str) -> None:
        import inputs
        from workloads import WORKLOADS

        self.args = args
        self.scratch = scratch
        self.traffic = inputs.Traffic()
        self.classes = WORKLOADS[args.workload]
        self.uses_spark = any(c.uses_spark for c in self.classes)
        self.setups = []
        self.spark = None
        self.parts = []
        self.warm_up_s = {}
        self.ref = None

    def part(self, name: str):
        return next((p for p in self.parts if p.name == name), None)

    def set_up(self, rep: int) -> None:
        """One set-up: Spark context start (the JVM start on the first, a
        context restart in the same JVM after), seeded input generation and
        preparation of every path (descriptors, the online-store load)."""
        t0 = time.perf_counter()
        if self.uses_spark:
            from feathub_spark import default_spark_session

            if self.spark is not None:
                self.spark.stop()
            self.spark = default_spark_session("perfbench", cpus=CORES)
            self.spark.sparkContext.setLogLevel("ERROR")
        data_dir = os.path.join(self.scratch, f"data-{rep}")
        self.parts = [c(self.spark, self.args.seed, self.traffic) for c in self.classes]
        for p in self.parts:
            p.prepare(os.path.join(data_dir, p.name))
        self.setups.append(time.perf_counter() - t0)
        _log(f"set-up {rep} took {self.setups[-1]:.2f}s")
        if rep:
            shutil.rmtree(os.path.join(self.scratch, f"data-{rep - 1}"), ignore_errors=True)

    def warm_up(self) -> None:
        """One untimed run of every path on the last set-up: the cold first
        run (JIT, Python workers, first-touch caches)."""
        for p in self.parts:
            t0 = time.perf_counter()
            p.warm_up()
            self.warm_up_s[p.name] = time.perf_counter() - t0
            _log(f"warm-up {p.name} took {self.warm_up_s[p.name]:.2f}s")

    def measure(self, on_step=None, min_steps: int = 1):
        """Run steps until ``--seconds`` of measured time have passed; a step
        runs every path once.  The step expected to cross the deadline is the
        last; its output is kept for the check.  ``on_step(step, phase)`` sees
        the phases "step" (timed), "settle" (untimed clean-up) and "done",
        once per path."""
        ops, step_walls = [], []
        if self.ref:
            self.ref.burst()  # the reference brackets the measured window
        deadline = time.perf_counter() + self.args.seconds
        step = 0
        while True:
            now = time.perf_counter()
            # before any step, the warm-up stands in for a step's time (an
            # over-estimate on the Spark paths, whose warm-up is a cold run)
            est = statistics.median(step_walls) if step_walls else sum(self.warm_up_s.values())
            # last: the step whose expected midpoint crosses the deadline
            last = now + est / 2 >= deadline and step + 1 >= min_steps
            for p in self.parts:
                if on_step:
                    on_step(step, "step")
                step_ops = p.step()
                if on_step:
                    on_step(step, "settle")
                p.settle(last)
                if on_step:
                    on_step(step, "done")
                for o in step_ops:
                    o.step, o.path = step, p.name
                ops.extend(step_ops)
            step_walls.append(time.perf_counter() - now)
            step += 1
            if last:
                _log(f"measured {step} steps in {time.perf_counter() - deadline + self.args.seconds:.2f}s")
                if self.ref:
                    self.ref.burst()
                return ops


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(b: Bench, ops, failures, rss_mb: float):
    multi = len(b.parts) > 1
    report = {}
    op_ms, rates = [], []
    for p in b.parts:
        pre = f"{p.name}." if multi else ""
        mine = [o for o in ops if o.path == p.name]
        prim = [o.seconds for o in mine if o.kind == p.primary]
        rows_kind = {"iteration": "iteration", "batch": "drain", "read": "read"}[p.primary]
        # throughput per step (input rows over the step's read/iteration/
        # drain and write time), median over steps
        per_step = {}
        for o in mine:
            if o.kind in (rows_kind, "write"):
                rows, busy = per_step.get(o.step, (0, 0.0))
                per_step[o.step] = (rows + (o.rows if o.kind == rows_kind else 0), busy + o.seconds)
        rows_per_s = statistics.median(r / t for r, t in per_step.values())
        op_ms.append(statistics.median(prim) * 1000.0)
        rates.append(rows_per_s)
        if multi:
            report[pre + "op_p50_ms"] = (op_ms[-1], "ms", f"n={len(prim)}")
            report[pre + "rows_per_s"] = (rows_per_s, "1/s")

        def lat(name, kind):
            vals = [o.seconds * 1000.0 for o in mine if o.kind == kind]
            report[f"{pre}{name}_p50_ms"] = (statistics.median(vals), "ms", f"n={len(vals)}")
            t = tail(vals)
            if t is not None:
                report[f"{pre}{name}_tail_ms"] = (t[0], "ms", f"p{t[1]:g} n={t[2]}")
            else:
                report[f"{pre}{name}_tail_ms"] = (None, "ms", f"n={len(vals)} too few for a tail")

        if p.primary == "iteration":
            report[pre + "wall_s"] = (statistics.median(prim), "s", f"n={len(prim)}")
        elif p.primary == "batch":
            lat("batch", "batch")
        else:
            lat("read", "read")
            lat("write", "write")
            client_s = sum(o.seconds for o in mine if o.kind in ("read", "write"))
            report[pre + "read_qps"] = (len(prim) / client_s, "1/s")

    # the gated metrics, defined on every workload and never zero.  Op time
    # and throughput are geometric means over the workload's paths, so that
    # each path weighs the same whatever its absolute time, in units of the
    # reference, so that host drift cancels.  Set-up time is what a run
    # needs before it can time anything, so that work moved out of the op,
    # into preparation or into the cold first run, shows.
    setup_s = statistics.median(b.setups) + sum(b.warm_up_s.values())
    if b.ref:
        ref = statistics.median(b.ref.samples)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ref": (geomean(op_ms) / (ref * 1000.0), "ref"),
            "rows_per_ref": (geomean(rates) * ref, "1/ref"),
        }
        ref_line = {"reference_ms": (ref * 1000.0, "ms", f"median of {len(b.ref.samples)} samples")}
    else:
        # a serve client: its parent divides by the reference it samples
        # around the client
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (geomean(op_ms), "ms"),
            "rows_per_s": (geomean(rates), "1/s"),
        }
        ref_line = {}
    attempted = len(ops) + 1  # every op plus the output check
    failed = sum(1 for o in ops if not o.ok) + (1 if failures else 0)
    report = {
        **metrics,
        "setup_s": (setup_s, "s", "median set-up of " + " ".join(f"{x:.2f}" for x in b.setups)
                    + f" plus warm-up {sum(b.warm_up_s.values()):.2f}"),
        "op_p50_ms": (geomean(op_ms), "ms"),
        "rows_per_s": (geomean(rates), "1/s"),
        **ref_line,
        "warm_up_s": (sum(b.warm_up_s.values()), "s",
                      " ".join(f"{k}={v:.2f}" for k, v in b.warm_up_s.items())),
        **report,
        "peak_rss_mb": (rss_mb, "MB"),
        "failed_frac": (failed / attempted, "1"),
    }
    return metrics, report, attempted, failed


def per_layer(b: Bench, tracer, counters, traced_steps, untraced_ops, traced_ops, storage):
    """Per-layer metrics from the traced steps (medians over steps or calls)."""
    from tracing import LAYERS, median

    spans = [s for s in tracer.spans if s.step in traced_steps]
    by_name = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def call_ms(name):
        return median(s.ms for s in by_name.get(name, []))

    m = {}
    m["registries.build_features_ms"] = (call_ms("registries.build_features"), "ms")
    m["processors.get_table_ms"] = (call_ms("processors.get_table"), "ms")
    m["processors.get_table_jobs"] = (median(
        s.jobs[1] - s.jobs[0] for s in by_name.get("processors.get_table", [])), "count")

    def totals(name):
        out = [counters.totals(s.jobs, s.ms) for s in by_name.get(name, [])]
        keys = out[0].keys() if out else []
        return {k: median(o[k] for o in out) for k in keys}

    tw = totals("table.write")
    m["table.write_ms"] = (call_ms("table.write"), "ms")
    units = {"jobs": "count", "stages": "count", "tasks": "count", "executor_run_ms": "ms",
             "executor_cpu_ms": "ms", "gc_ms": "ms", "shuffle_read_bytes": "bytes",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "max_task_ms": "ms",
             "task_skew": "ratio", "core_busy_frac": "1", "cpu_frac": "1"}
    for k, unit in units.items():
        m[f"table.{k}"] = (tw.get(k, 0.0), unit)

    for op in ("normalize_text", "analyze_documents", "ngram_jaccard_pairs", "select_survivors"):
        name = f"datapipe.{op}"
        m[f"{name}.ms"] = (call_ms(name), "ms")
        m[f"{name}.jobs"] = (median(s.jobs[1] - s.jobs[0] for s in by_name.get(name, [])), "count")
    curate = b.part("curate")
    pairs, survivors = (curate.result if curate else None) or ([], [])
    m["datapipe.pairs"] = (len(pairs), "count")
    m["datapipe.survivors"] = (sum(1 for r in survivors if r[2] == 1), "count")

    m["caching.live_caches"] = (median(n for n, _ in storage), "count")
    m["caching.cached_bytes"] = (median(bt for _, bt in storage), "bytes")
    m["caching.release_ms"] = (call_ms("caching.release"), "ms")

    drains = [o for o in traced_ops if o.kind == "drain"]
    prog = [p for o in drains for p in o.progress]
    dur = lambda key: median(p["durationMs"].get(key, 0) for p in prog)  # noqa: E731
    sop = lambda p, key: sum(so.get(key, 0) for so in p["stateOperators"])  # noqa: E731
    per_drain = lambda f: median(f(o.progress) for o in drains)  # noqa: E731
    m["streaming.start_ms"] = (call_ms("processors.materialize_stream"), "ms")
    m["streaming.batches"] = (per_drain(len), "count")
    m["streaming.add_batch_ms"] = (dur("addBatch"), "ms")
    m["streaming.planning_ms"] = (dur("queryPlanning"), "ms")
    m["streaming.offset_ms"] = (median(
        p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("walCommit", 0)
        for p in prog), "ms")
    m["streaming.commit_ms"] = (dur("commitOffsets"), "ms")
    m["streaming.state_rows"] = (per_drain(lambda ps: max(sop(p, "numRowsTotal") for p in ps)), "count")
    m["streaming.state_bytes"] = (per_drain(lambda ps: max(sop(p, "memoryUsedBytes") for p in ps)), "bytes")
    m["streaming.state_rows_updated"] = (per_drain(lambda ps: sum(sop(p, "numRowsUpdated") for p in ps)), "count")
    m["streaming.rows_dropped_late"] = (per_drain(
        lambda ps: sum(sop(p, "numRowsDroppedByWatermark") for p in ps)), "count")
    m["streaming.output_rows"] = (per_drain(
        lambda ps: sum(p["sink"].get("numOutputRows", 0) for p in ps)), "count")
    sd = totals("streaming.drain")
    m["streaming.core_busy_frac"] = (sd.get("core_busy_frac", 0.0), "1")
    m["streaming.cpu_frac"] = (sd.get("cpu_frac", 0.0), "1")

    m["online_stores.get_ms"] = (call_ms("online_stores.get"), "ms")
    m["online_stores.put_ms"] = (call_ms("online_stores.put"), "ms")
    # rows held by the store at the end (the store has no public size)
    serve = b.part("serve")
    tables = serve.store._tables if serve else {}
    m["online_stores.rows"] = (sum(len(t) for t in tables.values()), "count")
    m["feature_service.get_online_features_ms"] = (call_ms("feature_service.get_online_features"), "ms")

    selfs = [tracer.self_ms(s) for s in traced_steps]
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = (median(x[layer] for x in selfs), "ms")
    walls = {o.step: 0.0 for o in traced_ops}
    for o in traced_ops:
        if o.kind in ("iteration", "drain", "read", "write"):
            walls[o.step] += o.seconds * 1000.0
    m["trace.unaccounted_ms"] = (median(
        walls[s] - tracer.top_level_ms(s) for s in traced_steps if s in walls), "ms")
    # traced over untraced median op, geometric mean over the paths
    ratios = []
    for p in b.parts:
        t_med = median(o.seconds for o in traced_ops if o.path == p.name and o.kind == p.primary)
        u_med = median(o.seconds for o in untraced_ops if o.path == p.name and o.kind == p.primary)
        if t_med and u_med:
            ratios.append(t_med / u_med)
    m["trace.overhead_frac"] = (geomean(ratios) - 1.0 if ratios else 0.0, "1")
    m["trace.spans_per_step"] = (len(spans) / max(len(traced_steps), 1), "count")
    return m


def run(args, scratch: str):
    from reference import Reference

    b = Bench(args, scratch)
    if args.client:
        return _run(b, args)
    # the reference's processes start before the first set-up, untimed
    with Reference() as b.ref:
        return _run(b, args)


def _run(b: Bench, args):
    import tracing

    for rep in range(1 if args.trace else SETUPS):
        b.set_up(rep)
    b.warm_up()

    if not args.trace:
        ops = b.measure()
        failures = [f for p in b.parts for f in p.check()]
        _log("checked")
        return b, ops, failures, None

    counters = tracing.SparkCounters(b.spark, CORES) if b.uses_spark else None
    tracer = tracing.Tracer(counters)
    storage = []
    hooks = {"caching.release": lambda: storage.append(counters.storage())}
    state = {"undo": None}

    def on_step(step, phase):
        # even steps traced, odd steps untraced: the overhead estimate
        # compares the two halves of the same run
        if phase == "step":
            tracer.step, tracer.timed = step, True
            if step % 2 == 0:
                state["undo"] = tracing.install(tracer, hooks)
        elif phase == "settle":
            tracer.timed = False
        elif state["undo"] is not None:
            state["undo"]()
            state["undo"] = None
            tracer.step = -1

    # at least one traced and one untraced step
    ops = b.measure(on_step, min_steps=2)
    failures = [f for p in b.parts for f in p.check()]
    traced_steps = sorted({o.step for o in ops if o.step % 2 == 0})
    traced = [o for o in ops if o.step % 2 == 0]
    untraced = [o for o in ops if o.step % 2 == 1]
    layer = per_layer(b, tracer, counters, traced_steps, untraced, traced, storage)
    if args.trace_out:
        with open(args.trace_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": [s.to_json() for s in tracer.spans]}, f)
    return b, ops, failures, layer


def _serve_clients(args) -> int:
    """Run SERVE_CLIENTS client processes one after another, each measuring
    ``--seconds / SERVE_CLIENTS``.  This process holds the reference and
    runs a burst before the first client and after each one, so a client's
    reference is the median of the two bursts around it.  Reports the mean
    of the clients' metrics (the sum of their op counts)."""
    import subprocess

    from reference import BURST, Reference

    clients = []
    with Reference() as ref:
        ref.burst()
        for i in range(SERVE_CLIENTS):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", "serve",
                   "--seed", str(args.seed), "--seconds", str(args.seconds / SERVE_CLIENTS),
                   "--trace", "0", "--client"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.splitlines()
            for line in lines[:-1]:
                print(f"# client {i}: {line[2:]}" if line.startswith("# ") else line)
            if proc.returncode not in (0, 1) or not lines:
                print(f"perfbench: serve client {i} exited with {proc.returncode}", file=sys.stderr)
                return proc.returncode or 3
            before = len(ref.samples) - BURST
            ref.burst()
            around = statistics.median(ref.samples[before:])
            r = json.loads(lines[-1])
            m = r["metrics"]
            c = {
                "setup_s": m["setup_s"]["value"],
                "op_p50_ref": m["op_p50_ms"]["value"] / (around * 1000.0),
                "rows_per_ref": m["rows_per_s"]["value"] * around,
            }
            print(f"# client {i}: reference_ms = {around * 1000.0:.6g} ms  (median of {2 * BURST} samples)"
                  f"; op_p50_ref = {c['op_p50_ref']:.6g} ref; rows_per_ref = {c['rows_per_ref']:.6g} 1/ref")
            clients.append((r, c))
    units = {"setup_s": "s", "op_p50_ref": "ref", "rows_per_ref": "1/ref"}
    metrics = {k: {"value": statistics.mean(c[k] for _, c in clients), "unit": u} for k, u in units.items()}
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}  (mean of {SERVE_CLIENTS} client processes)")
    correct = all(r["correct"] for r, _ in clients)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r, _ in clients),
        "failed": sum(r["failed"] for r, _ in clients),
        "metrics": metrics,
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    _become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        return _main(argv)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the clean-up
        _reap_children()


def _main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pipelines", "serve", "train_set", "curate", "stream_sliding"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--trace-out", default=None,
                   help="write the traced run's spans to this JSON file")
    p.add_argument("--client", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.trace_out:
        args.trace_out = os.path.abspath(args.trace_out)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import feathub_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import feathub_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "serve" and not args.trace and not args.client:
        return _serve_clients(args)

    run_root = os.path.join(ROOT, ".perfbench_run")
    scratch = os.path.join(run_root, str(os.getpid()))
    os.makedirs(scratch)
    cwd = os.getcwd()
    _isolate(scratch)
    try:
        b, ops, failures, layer = run(args, scratch)
    finally:
        try:
            _stop_spark()
            _log("stopped")
        finally:
            os.chdir(cwd)
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(run_root)
            except OSError:
                pass

    metrics, report, attempted, failed = end_to_end(b, ops, failures, _peak_rss_mb())
    out = metrics if not args.trace else layer
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} paths={','.join(p.name for p in b.parts)}")
    print("# traffic " + json.dumps(b.traffic.describe(), sort_keys=True))
    for name, v in (report if not args.trace else out).items():
        val = "n/a" if v[0] is None else f"{v[0]:.6g}"
        print(f"# {name} = {val} {v[1]}" + (f"  ({v[2]})" if len(v) > 2 else ""))
    for f in failures:
        print(f"# CHECK FAILED: {f}")
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in out.items()},
    }))
    return 0 if not failures and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
