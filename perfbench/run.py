"""Closed-loop benchmark of the engine: one client, one op at a time.

    python3 perfbench/run.py --workload bi_olap --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload etl_load --selfcheck 5

Workloads (README.md says why each was chosen):
  bi_olap       registry BI/OLAP queries over the sf0.1 test tables
  etl_load      the reference DAG (``run_pipeline``) over seeded CSVs

A run sets up (inputs; one cold Spark session start, which launches the
JVM; one cold pass that also checks every op's output; the workload's
untimed warm-up passes), then times ``PASSES`` passes over the op list. It prints one JSON line last.
With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
the Spark event log is on, every op's jobs are tagged with the
benchmark's spans, and it reports per-layer metrics instead, writing the
spans to ``.perfbench_results/``. A wrong output or a failed op makes
the run exit with code 1.

``--selfcheck K`` runs the benchmark K times with seeds seed..seed+K-1
and prints each metric's median, quartiles and spread against the bound
in BENCHMARK.json. With ``--trace 1`` it alternates untraced and traced
runs and also prints the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS_DIR = os.path.join(ROOT, ".perfbench_results")
# timed passes per run: a fixed amount of work, so the sample count and
# the tail percentile do not depend on how fast the host runs
PASSES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["bi_olap", "etl_load"])
    p.add_argument("--seed", type=int, default=0)
    # accepted for the common benchmark interface; a run times PASSES passes
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selfcheck", type=int, default=0, metavar="K")
    return p.parse_args(argv)


def configure_process(work_dir: str, trace: bool) -> None:
    """Launch-time settings, before the JVM starts: every scratch file
    goes under ``work_dir``, and the traced run turns on the event log."""
    tmp = os.path.join(work_dir, "tmp")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    # get_spark's 24g default heap buys nothing at these sizes and lets
    # the JVM grow on a host it shares
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    # python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        from tracing import spark_log_conf

        args += spark_log_conf(os.path.join(work_dir, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.chdir(work_dir)


def start_session():
    from etl_dag_spark.session import get_spark, quiet_benign_logs

    spark = get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    quiet_benign_logs(spark)
    return spark


def stop_jvm() -> None:
    """Stop the Spark session, if any, and wait for the JVM to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def tail_stat(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile that has at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    s = sorted(samples)
    if len(s) < 11:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded loop: how fast the shared
    host runs right now, recorded beside the metrics, never in them."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return time.perf_counter() - t0


def cpu_jiffies() -> list[int]:
    """The host's CPU time counters from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_context(spark=None) -> dict:
    ctx = {
        "loadavg": os.getloadavg(),
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_probe_s": cpu_probe_s(),
    }
    if spark is not None:
        ctx["spark"] = spark.version
        ctx["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return ctx


def run_workload(args, work_dir: str) -> tuple[dict, int]:
    import workloads
    from tracing import RssSampler, Tracer, fold_event_logs, layer_metrics

    trace = bool(args.trace)
    wl = workloads.make(args.workload, args.seed, RESULTS_DIR)
    attempted = failed = 0
    problems: list[str] = []

    # set-up: the inputs, then a cold session start, which launches the JVM
    t0 = time.perf_counter()
    inputs = wl.prepare_inputs(work_dir)
    inputs_s = time.perf_counter() - t0
    print(f"inputs: {args.workload} rows={inputs['rows']} bytes={inputs['bytes']} from {inputs['dir']}")
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    host = {"start": host_context(spark)}

    def run_pass(label: str, tracer) -> dict[str, float]:
        """Run every op once and return the seconds of each that ran;
        a failure is counted and the pass goes on."""
        nonlocal attempted, failed
        seconds = {}
        for op in wl.ops:
            attempted += 1
            try:
                t0 = time.perf_counter()
                wl.run_op(spark, op, tracer, f"{op}#{label}")
                seconds[op] = time.perf_counter() - t0
                bad = wl.last_problems() if hasattr(wl, "last_problems") else []
            except Exception as exc:  # noqa: BLE001 - one failed op must not end the run
                bad = [f"{type(exc).__name__}: {exc}"]
            if bad:
                failed += 1
                problems.extend(f"{op} pass {label}: {p}" for p in bad)
        return seconds

    # set-up: the cold pass, which also checks every op's output, then
    # the workload's untimed warm-up passes
    cold_s = 0.0
    for op in wl.ops:
        attempted += 1
        try:
            seconds, bad = wl.check_op(spark, op)
            cold_s += seconds
        except Exception as exc:  # noqa: BLE001
            bad = [f"{type(exc).__name__}: {exc}"]
        if bad:
            failed += 1
            problems.extend(f"{op} cold pass: {p}" for p in bad)
    t0 = time.perf_counter()
    for i in range(wl.warmup_passes):
        run_pass(f"warm{i}", Tracer(None, False))
    warmup_s = time.perf_counter() - t0
    setup_s = inputs_s + session_s + cold_s + warmup_s
    print(
        f"setup: inputs {inputs_s:.2f} s, session start {session_s:.2f} s, cold checked pass "
        f"{cold_s:.2f} s, warm-up passes: {wl.warmup_passes} in {warmup_s:.2f} s"
    )

    tracer = Tracer(spark.sparkContext, trace)
    if trace and hasattr(wl, "instrument"):
        wl.instrument(tracer)
    samples: dict[str, list[float]] = {op: [] for op in wl.ops}
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss = RssSampler(jvm_pid) if trace else contextlib.nullcontext()
    jiffies0 = cpu_jiffies()
    with rss:
        for i in range(PASSES):
            for op, seconds in run_pass(str(i), tracer).items():
                samples[op].append(seconds)
    delta = [b - a for a, b in zip(jiffies0, cpu_jiffies())]
    # the share of CPU time the hypervisor gave to other guests while the
    # passes were timed (the 8th /proc/stat counter is steal)
    host["timed_steal_share"] = delta[7] / max(1, sum(delta))
    host["end"] = host_context()
    stop_jvm()
    wl.close()

    all_samples = [x for xs in samples.values() for x in xs]
    pass_s = sum(statistics.median(xs) for xs in samples.values() if xs)
    tail, pct = tail_stat(all_samples) if all_samples else (0.0, 0.0)
    print(
        f"timed: {PASSES} passes, {len(all_samples)} op samples; op_tail_s is the "
        f"p{pct:.1f} of {len(all_samples)} samples"
    )
    print(f"fail_ratio: {failed}/{attempted}")
    for p in problems[:20]:
        print(f"FAIL {p}")
    print(f"host: {json.dumps(host)}")

    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(all_samples) if all_samples else 0.0, "s"),
        "op_tail_s": (tail, "s"),
        "rows_per_s": (wl.rows_per_pass / pass_s if pass_s else 0.0, "rows/s"),
        "ok_ratio": (1.0 - failed / attempted, "1"),
    }
    if not trace:
        metrics = e2e
    else:
        fold_event_logs(os.path.join(work_dir, "eventlog"), tracer.spans)
        metrics, per_op = layer_metrics(tracer.spans, pass_s)
        metrics["peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")
        for line in per_op:
            print(line)
        os.makedirs(RESULTS_DIR, exist_ok=True)
        trace_path = os.path.join(RESULTS_DIR, f"trace-{args.workload}-{args.seed}.json")
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "host": host,
        }
        with open(trace_path, "w") as fh:
            json.dump({"record": record, "spans": tracer.spans}, fh)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(trace_path, ROOT)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, (0 if failed == 0 else 1)


def selfcheck(args) -> int:
    """Repeat the workload in fresh processes and report its steadiness.
    With ``--trace 1`` each seed runs untraced, then traced, and the
    tracing overhead is the ratio of the two sets' median pass times."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values: dict[str, list[float]] = {}
    code = 0
    modes = [0, 1] if args.trace else [0]
    for i in range(args.selfcheck):
        for trace in modes:
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                "--seed", str(args.seed + i), "--seconds", str(args.seconds), "--trace", str(trace),
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            host = next((ln for ln in lines if ln.startswith("host: ")), "host: ?")
            print(
                f"run {i} seed {args.seed + i} trace {trace}: exit {proc.returncode} "
                f"in {time.perf_counter() - t0:.1f} s; {host}"
            )
            if proc.returncode != 0 or not lines:
                code = 1
                print(proc.stdout[-2000:], proc.stderr[-2000:], sep="\n")
                continue
            metrics = json.loads(lines[-1])["metrics"]
            for name, m in metrics.items():
                values.setdefault(name, []).append(m["value"])
            print("    " + " ".join(f"{k}={m['value']:.4g}" for k, m in metrics.items()))
    print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'range/med':>10}{'bound':>7}")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        rel = (lambda d: d / med if med else 0.0)
        bound = bounds.get(name)
        print(
            f"{name:<18}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{rel(q3 - q1):>9.3f}"
            f"{rel(max(xs) - min(xs)):>10.3f}{bound if bound is not None else '-':>7}"
        )
    if values.get("pass_s") and values.get("traced_pass_s"):
        untraced = statistics.median(values["pass_s"])
        traced = statistics.median(values["traced_pass_s"])
        print(
            f"tracing overhead: median traced pass_s {traced:.3f} s / median untraced "
            f"pass_s {untraced:.3f} s = {traced / untraced:.3f}"
        )
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.selfcheck:
        return selfcheck(args)
    sys.path[:0] = [HERE, ROOT]
    import etl_dag_spark  # noqa: F401 - fail fast outside a checkout of the program

    work_dir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        configure_process(work_dir, bool(args.trace))
        result, code = run_workload(args, work_dir)
    finally:
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work_dir))  # only when no other run uses it
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    raise SystemExit(main())
