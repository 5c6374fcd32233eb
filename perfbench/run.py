"""mrmr_spark benchmark runner: one workload, one fresh driver process.

    python3 perfbench/run.py --workload transcript_e2e --seed 1 --seconds 10 --trace 0

Load shape: a closed loop with one client on ``local[2]``; passes run back
to back. Two task slots on a 4-CPU machine leave CPUs for the JIT
compiler, the GC, the driver's own numpy work and the Python workers:
with four slots the JIT takes about six passes to settle and its progress,
not the program, sets a pass's time. A run generates (or finds cached) the
seeded inputs, sets up the session, times the first pass, then repeats
warm passes until ``--seconds`` have passed and the workload's
``WARM_PASSES`` are done. ``wall_s`` is the sum, over the operations of a
pass, of each operation's fastest warm time: load from other tenants of
the machine only ever slows an operation, so the fastest of a run's passes
is the one it disturbed least, and it is also the most warmed one.
``rows_per_s`` divides the rows of the primary table by the same sum over
the operations that read it. After the timed passes the oracle checks run
once, and every timed pass is compared to the checked result. ``--trace
1`` adds one traced pass that runs the same public calls as separate
spans, each under its own Spark job group, and reports the per-layer
numbers read from Spark's status store.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones). The line before it, prefixed ``perfbench:``, is the
run record: seed, sizes, pass times, steal %, cache held, failures.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
CPUS = 2
#: end-to-end metrics, in BENCHMARK.json order, with their units
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "1/s"),
    ("driver_peak_rss_mb", "MB"),
)
#: repository files the benchmark runs against
REQUIRED = ("mrmr_spark/__init__.py", "tests/oracle_sift.py", "tools/check_exact.py")


def stat_counters():
    """(steal, total) jiffies from /proc/stat, as bench.py reads them:
    total is user..steal, since guest time is already inside user/nice."""
    try:
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        return vals[7], sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the gateway JVM, the Python worker daemon and its workers), with the
    reaped children each has waited for. Stolen time is not in it."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(pid)] = (int(fields[1]), sum(map(int, fields[11:15])))
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, (ppid, _) in procs.items() if ppid == pid and c not in tree)
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


def steal_pct(before, after):
    if before is None or after is None or after[1] <= before[1]:
        return None
    return round(100.0 * (after[0] - before[0]) / (after[1] - before[1]), 2)


def reset_peak_rss() -> bool:
    """Reset this process's peak-RSS mark (Linux >= 4.0), so the peak read
    after the passes covers the passes only."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _warm(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow as pa

    for b in batches:
        yield pa.RecordBatch.from_arrays([pa.array([b.num_rows])], ["n"])


def start_session(workload: str):
    from mrmr_spark.session import get_spark

    local = os.path.join(CACHE, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            # keep every file the run writes inside the checkout
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData -Dderby.system.home={CACHE}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the JVM
    exits when its stdin closes, and the Python workers are its children."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_pool(spark) -> None:
    """One task per core through an Arrow UDF: starts the Python daemon
    and workers and imports numpy/pandas/pyarrow in each."""
    from pyspark.sql import functions as F

    spark.range(0, CPUS, 1, CPUS).mapInArrow(_warm, "n long").agg(F.sum("n")).collect()


def run_pass(spark, components, record):
    """One pass: every operation of every component, in order. Returns
    (seconds, {op: result or the exception raised}, {op: seconds}); also
    appends each operation's seconds to ``record["op_s"]``, the pass's
    steal % to ``record["steal_pct_passes"]`` and its process-tree CPU
    seconds to ``record["cpu_s_passes"]``."""
    out, op_s = {}, {}
    s0 = stat_counters()
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    for comp in components:
        for name, fn in comp.ops(spark):
            t_op = time.perf_counter()
            try:
                out[name] = fn()
            except Exception as e:  # a failed operation is counted, not fatal
                out[name] = e
                record["errors"].append(f"{name}: {traceback.format_exc(limit=-3)[-1500:]}")
            op_s[name] = time.perf_counter() - t_op
            record["op_s"].setdefault(name, []).append(round(op_s[name], 3))
    secs = time.perf_counter() - t0
    record["steal_pct_passes"].append(steal_pct(s0, stat_counters()))
    record["cpu_s_passes"].append(round(tree_cpu_s() - c0, 3))
    return secs, out, op_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a mrmr_spark checkout, missing {missing}", file=sys.stderr)
        return 2

    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # local-mode Python workers import mrmr_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")]

    # first: importing mrmr_spark caps the BLAS threads before numpy
    # loads, as in any process that uses the package. The input writers
    # import it and pyspark at module level, so that import time is in
    # setup_s whether or not the inputs are cached.
    import mrmr_spark  # noqa: F401
    import sources
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    components = workloads.WORKLOADS[args.workload]()

    s0 = stat_counters()
    record = {"workload": args.workload, "seed": args.seed, "errors": [], "op_s": {},
              "steal_pct_passes": [], "cpu_s_passes": []}
    generate_s = 0.0
    dirs = []
    for comp in components:
        d, g = sources.cached_inputs(
            os.path.join(CACHE, "inputs"), comp.kind, args.seed, comp.size, comp.writer
        )
        dirs.append(d)
        generate_s += g

    t_setup = time.perf_counter()
    spark = start_session(args.workload)
    try:
        t_open = time.perf_counter()
        for comp, d in zip(components, dirs):
            comp.open(spark, d)
        t_warm = time.perf_counter()
        warm_pool(spark)
        t_ready = time.perf_counter()
        setup_s = t_ready - T0 - generate_s
        layers = {
            "session.start_s": t_open - t_setup,
            "sources.load_s": t_warm - t_open,
            "session.warmup_s": t_ready - t_warm,
            "sources.generate_s": generate_s,
        }
        rows = components[0].primary_rows
        primary_ops = [name for name, _ in components[0].ops(spark)]

        import status

        rss_reset = reset_peak_rss()
        first_s, first, _ = run_pass(spark, components, record)
        passes = [first]
        held = [status.storage_held_mb(spark)]
        warm, warm_ops = [], {}
        t_loop = time.perf_counter()
        min_warm = max(c.WARM_PASSES for c in components)
        while len(warm) < min_warm or time.perf_counter() - t_loop < args.seconds:
            secs, res, op_s = run_pass(spark, components, record)
            warm.append(secs)
            for name, s in op_s.items():
                warm_ops.setdefault(name, []).append(s)
            passes.append(res)
            held.append(status.storage_held_mb(spark))
        op_best = {name: min(v) for name, v in warm_ops.items()}
        wall_s = sum(op_best.values())
        primary_s = sum(op_best[name] for name in primary_ops)
        layers["session.first_pass_s"] = first_s
        driver_peak_rss_mb = peak_rss_mb()
        persisted_after = status.persisted_count(spark)

        if args.trace:
            # start the traced pass from an empty cache, so each span's
            # cache_held_mb shows what that call leaves persisted
            spark.catalog.clearCache()
            sink = {}
            t_traced = time.perf_counter()
            for comp in components:
                comp.traced(spark, sink)
            traced_s = time.perf_counter() - t_traced
            # spans no timed pass runs (separate kernel scans, the copula
            # on its own) are extra work, not tracing cost
            extra_s = sum(sink[n].seconds for c in components for n in c.TRACED_ONLY)
            layers["trace.overhead_s"] = traced_s - extra_s - wall_s
            record["traced_s"] = round(traced_s, 3)
            record["traced_only_s"] = round(extra_s, 3)
            for comp in components:
                layers.update(comp.layers)

        t_check = time.perf_counter()
        checks = {}
        for comp in components:
            checks.update(comp.check(spark, first))
        record["check_s"] = round(time.perf_counter() - t_check, 3)
    finally:
        stop_session(spark)

    attempted = failed = 0
    mismatches = []
    for i, res in enumerate(passes):
        for name, got in res.items():
            attempted += 1
            ok, want, detail = checks.get(name, (False, None, "no check ran"))
            if isinstance(got, Exception) or not ok or got != want:
                failed += 1
                mismatches.append(f"pass {i} {name}: "
                                  f"{detail or f'got {got!r}, checked {want!r}'}")
    oracle_ok = all(ok for ok, _, _ in checks.values())

    values = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "rows_per_s": rows / primary_s,
        "driver_peak_rss_mb": driver_peak_rss_mb,
    }
    metrics = {name: (values[name], u) for name, u in END_TO_END}
    layers["cache_held_mb"] = statistics.median(held)
    layers["ops_failed_frac"] = failed / attempted
    if args.trace:
        for name in workloads.PER_LAYER:
            layers.setdefault(name, 0.0)
        metrics = {name: (layers[name], workloads.unit(name)) for name in workloads.PER_LAYER}

    record.update({
        "sizes": [[c.kind, c.size] for c in components],
        "primary_rows": rows,
        "passes_warm": len(warm),
        "warm_s": [round(s, 4) for s in warm],
        "first_pass_s": round(first_s, 4),
        "wall_s": round(wall_s, 4),
        "setup_s": round(setup_s, 4),
        "generate_s": round(generate_s, 4),
        "steal_pct": steal_pct(s0, stat_counters()),
        "cache_held_mb": [round(h, 3) for h in held],
        "persisted_frames_after": persisted_after,
        "ops_failed_frac": f"{failed}/{attempted}",
        "oracle": {k: (ok, detail) for k, (ok, _, detail) in checks.items()},
        "mismatches": mismatches[:20],
        "rss_reset": rss_reset,
    })
    print("perfbench: " + json.dumps(record, default=str), flush=True)
    print(json.dumps({
        "correct": oracle_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
