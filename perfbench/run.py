"""End-to-end benchmark of the pipelines engine.

    python3 perfbench/run.py --workload etl_flagship --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. One invocation generates the workload's
inputs from the seed, starts a Spark session on ``local[<cores>]``, runs one
warm pass (part of set-up), then runs passes back to back for
``--seconds`` seconds (and at least three), checks every output against
DuckDB, and prints each metric as ``metric <name> <value> <unit>``
followed by one JSON line. Metric names and units come from
``BENCHMARK.json``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates traced
and untraced passes and reports the per-layer metrics; its spans go to
``perfbench/.work/<workload>/trace-<seed>.jsonl``.

Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

#: Untimed passes before the measured ones, part of set-up. The first pays
#: codegen and the Python-worker fork. The JIT warm-up of the driver's
#: planning code goes on for a few more passes (on a 4-core host the first
#: two measured passes run 10-25% slower than the later ones); measuring
#: more passes and taking their median absorbs it more steadily than more
#: warm passes did: pass times also drift with the host over tens of
#: seconds, so a longer measured window is what steadies the median.
WARM_PASSES = 1
#: Measured passes at least, even past ``--seconds``, so the median drops
#: any one pass the host slowed down.
MIN_PASSES = 3


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, in the order
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


#: Run in a child Python from the checkout root: argv is workload, data
#: directory, seed. A plain child process, because ``multiprocessing`` would
#: also start a resource tracker that outlives this process.
_GENERATE = (
    "import sys; from perfbench.workloads import WORKLOADS; "
    "WORKLOADS[sys.argv[1]](sys.argv[2], '').generate(int(sys.argv[3]))"
)


def _generate(workload: str, data_dir: str, seed: int) -> int | None:
    """Write the workload's inputs from ``seed`` in a child process, so
    their memory is not counted in the driver's peak RSS. Returns its exit
    code, or None if it ran past five minutes and was killed."""
    gen = subprocess.Popen(
        [sys.executable, "-c", _GENERATE, workload, data_dir, str(seed)], cwd=ROOT
    )
    try:
        return gen.wait(timeout=300)
    except subprocess.TimeoutExpired:
        gen.kill()
        gen.wait()
        return None


PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    Python worker whose JVM has gone is still our child and
    ``stop_children`` can end it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the parenthesised command are state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def stop_children(timeout: float = 10.0) -> None:
    """Terminate every child still running, kill any that outlive
    ``timeout``, and wait for each to end."""
    pids = _children()
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while pids:
        for pid in list(pids):
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                done = pid
            if done:
                pids.remove(pid)
        if pids and time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        if pids:
            time.sleep(0.05)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def isolate(base: str) -> None:
    """Environment for a Spark session whose files all stay under ``base``:
    Python workers import the program from any working directory, and
    Spark's scratch space, temp files and the catalog's warehouse (relative
    to the working directory) live in ``base``."""
    tmp = _fresh(os.path.join(base, "tmp"))
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_LOCAL_DIRS": _fresh(os.path.join(base, "spark-local")),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        }
    )
    os.chdir(_fresh(os.path.join(base, "cwd")))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _sql_sum(execs, metric: str, op: str | None = None) -> float:
    return sum(
        v
        for e in execs
        for (o, name), v in e.metrics.items()
        if name == metric and (op is None or o == op)
    )


def _attach(tracer, res, jobs) -> None:
    """Add job and stage spans under the step span that submitted each job.
    Steps nest (the pipeline's inner calls open inside it), and are listed in
    the order they opened, so the last one holding a job's start is the
    innermost."""
    steps = [tracer.spans[s] for s in reversed(res.steps)]
    for job in jobs:
        if job.start_ms is None or job.end_ms is None:
            continue
        start = job.start_ms / 1e3
        parent = next(
            (s.span_id for s in steps if s.start <= start <= s.end), res.span
        )
        jid = tracer.add(
            f"job-{job.job_id}:{job.group}", "spark.jobs", start, job.end_ms / 1e3, parent
        )
        for st in job.stages:
            if st.start_ms is not None and st.end_ms is not None:
                tracer.add(
                    f"stage-{st.stage_id}", "spark.stages", st.start_ms / 1e3, st.end_ms / 1e3, jid
                )


def _layer_counters(res, jobs, execs, input_bytes: int) -> dict[str, float]:
    from perfbench.spans import covered

    stages = [s for j in jobs for s in j.stages]
    wall = res.end - res.start
    busy = covered(
        [(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs if j.start_ms and j.end_ms],
        res.start,
        res.end,
    )
    run_s = sum(s.run_s for s in stages)
    cpu_s = sum(s.cpu_s for s in stages)
    write_bytes = sum(s.output_bytes for s in stages)
    parts = {k: v for op in res.ops for k, v in op.parts.items()}

    def op_s(name: str) -> float:  # 0 on the workload that has no such op
        return sum(op.seconds for op in res.ops if op.name == name)

    return {
        "plan.build_s": parts.get("read_inputs", 0.0) + parts.get("transform", 0.0),
        "write.s": parts.get("write_partitioned_parquet", 0.0),
        "catalog.register_s": op_s("catalog"),
        "query.trend.s": op_s("trend"),
        "query.corpus_funnel_stats.s": op_s("corpus_funnel_stats"),
        "driver.build_s": sum(op.build_s for op in res.ops),
        "driver.gap_s": wall - busy,
        "driver.gap_share": 100.0 * (wall - busy) / wall,
        "scan.bytes_read": sum(s.input_bytes for s in stages),
        "scan.rows": _sql_sum(execs, "number of output rows", "Scan"),
        "scan.time_s": _sql_sum(execs, "scan time", "Scan"),
        "write.files": _sql_sum(execs, "number of written files"),
        "write.bytes": write_bytes,
        "write.rows": sum(s.output_rows for s in stages),
        "write.bytes_per_input_byte": write_bytes / input_bytes,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.failed_tasks": sum(s.failed_tasks for s in stages),
        "executor.run_s": run_s,
        "executor.cpu_s": cpu_s,
        "executor.wait_s": run_s - cpu_s,
        "python.bytes_sent": _sql_sum(execs, "data sent to Python workers"),
        "python.bytes_returned": _sql_sum(execs, "data returned from Python workers"),
        "python.run_s": _sql_sum(execs, "time to run Python workers"),
        "shuffle.write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "shuffle.read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "shuffle.spill_bytes": sum(s.spill_bytes for s in stages),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(workload, seconds: int, trace: bool) -> dict:
    """Set up, warm, run passes for ``seconds`` and collect raw figures.
    Nothing here checks outputs; that happens after the timed region."""
    from bigdata_pipelines_aws_glue_spark.session import get_spark
    from perfbench.status import StatusReader, codegen_totals, jvm_gc_seconds
    from perfbench.spans import Tracer

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload.name}")
    session_start = time.perf_counter() - t0
    try:
        tracer = Tracer()
        warm = [workload.run_pass(spark, k, tracer) for k in range(WARM_PASSES)]
        setup = session_start + sum(p.end - p.start for p in warm)
        reader = StatusReader(spark) if trace else None
        if reader:
            reader.skip()  # the warm passes are set-up, not measured passes
            tracer.root = tracer.add(workload.name, "workload", time.time(), 0.0, None)
        passes, counters = [], []
        status_read_s = 0.0
        input_bytes = workload.input_bytes()
        start = time.perf_counter()
        k = WARM_PASSES
        while True:
            tracer.enabled = trace and (k - WARM_PASSES) % 2 == 0
            gc0 = jvm_gc_seconds(spark) if tracer.enabled else 0.0
            res = workload.run_pass(spark, k, tracer)
            passes.append(res)
            if reader:
                t_read = time.perf_counter()
                jobs, execs = reader.new_jobs(), reader.new_executions()
                status_read_s += time.perf_counter() - t_read
                if res.traced:
                    _attach(tracer, res, jobs)
                    c = _layer_counters(res, jobs, execs, input_bytes)
                    c["executor.gc_s"] = jvm_gc_seconds(spark) - gc0
                    counters.append(c)
            k += 1
            # a traced run ends on an untraced pass, so it has as many of
            # each for trace.overhead_s
            if (
                time.perf_counter() - start >= seconds
                and len(passes) >= MIN_PASSES
                and not (trace and len(passes) % 2)
            ):
                break
        if reader:
            tracer.spans[tracer.root].end = time.time()
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        compilations, compile_s = codegen_totals(spark)
    finally:
        stop_spark(spark)
    return {
        "session_start": session_start,
        "setup": setup,
        "warm": warm,
        "passes": passes,
        "counters": counters,
        "tracer": tracer,
        "rss_mb": rss,
        "codegen": (compilations, compile_s),
        "status_read_s": status_read_s,
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    # import from the checkout root, not from this script's directory
    sys.path[0] = ROOT
    cores = len(os.sched_getaffinity(0))
    # read by the session module at import time: local[cores] and as many
    # shuffle partitions, as in the repository's own test and bench runs
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the program under test; the benchmark cannot run without it
    import bench
    import bigdata_pipelines_aws_glue_spark  # noqa: F401
    from perfbench.workloads import PIPELINE_CALLS, WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    base = os.path.join(WORK, args.workload)
    data_dir = _fresh(os.path.join(base, "inputs"))
    out_dir = _fresh(os.path.join(base, "out"))
    workload = WORKLOADS[args.workload](data_dir, out_dir)

    phases = {}
    t_phase = time.perf_counter()
    code = _generate(args.workload, data_dir, args.seed)
    if code != 0:
        print(f"input generation failed (exit code {code})", file=sys.stderr)
        return 1

    phases["generate_s"] = time.perf_counter() - t_phase
    host = {"nproc": cores, "loadavg": [round(x, 2) for x in os.getloadavg()]}
    if args.trace:
        # ~7 s on a 4-core host; the untraced runs leave them out to stay
        # within the benchmark's total time budget
        t_phase = time.perf_counter()
        host["canary_sec"] = bench._host_canary()
        host["canary_mt_sec"] = bench._host_canary_mt(cores)
        phases["canaries_s"] = time.perf_counter() - t_phase
    isolate(base)

    # stderr of this process and of the JVM it starts goes to a log, which
    # is scanned for codegen compile failures afterwards
    log_path = os.path.join(base, "stderr.log")
    sys.stderr.flush()
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    t_phase = time.perf_counter()
    try:
        raw = measure(workload, args.seconds, bool(args.trace))
    except Exception:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise
    sys.stderr.flush()
    os.dup2(saved_stderr, 2)
    with open(log_path, errors="replace") as f:
        compile_failures = sum("Failed to compile" in line for line in f)

    phases["spark_s"] = time.perf_counter() - t_phase
    if args.trace:
        phases["status_read_s"] = raw["status_read_s"]
    # ---- output checks, outside the timed region
    t_phase = time.perf_counter()
    ops = [op for p in raw["warm"] + raw["passes"] for op in p.ops]
    verdicts = workload.check(ops)
    phases["check_s"] = time.perf_counter() - t_phase
    failed = sum(not ok for ok in verdicts)
    for op, ok in zip(ops, verdicts):
        if not ok:
            print(f"FAILED {op.name}: {op.error or 'output differs from the DuckDB oracle'}")
    shutil.rmtree(out_dir, ignore_errors=True)

    passes = raw["passes"]
    untraced = [p.end - p.start for p in passes if not p.traced]
    traced = [p.end - p.start for p in passes if p.traced]
    latencies = [
        op.seconds
        for p in passes
        if not p.traced
        for op in p.ops
        if op.name == workload.query_op
    ]
    pipeline_s = statistics.median(untraced)

    print("host " + json.dumps(host))
    print("phase seconds " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
    print(
        f"passes {len(passes)} ({len(traced)} traced), pass seconds "
        + json.dumps([round(p.end - p.start, 4) for p in passes])
    )
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for op in p.ops:
            per_op.setdefault(op.name, []).append(op.seconds)
    print("op seconds " + json.dumps({n: [round(x, 4) for x in v] for n, v in per_op.items()}))
    # the highest percentile with at least 10 samples beyond it
    n_lat = len(latencies)
    tail = (
        f"p{100 * (n_lat - 10) / n_lat:.0f} {sorted(latencies)[n_lat - 11]:.4f} s"
        if n_lat > 20
        else "no percentile above the median has 10 samples beyond it"
    )
    print(
        f"query latency ({workload.query_op}): {n_lat} samples, p50 {statistics.median(latencies):.4f} s, "
        f"max {max(latencies):.4f} s, {tail}"
    )
    print(f"error_rate {failed / len(ops):.4f} ({failed} of {len(ops)} operations)")

    if args.trace:
        missing = sorted(
            {
                name
                for p in passes
                if p.traced
                for op in p.ops
                if op.name == "pipeline"
                for name in PIPELINE_CALLS
                if name not in op.parts
            }
        )
        if missing:
            print(f"warning: run_pipeline made no call to {missing}; plan.build_s and write.s leave them out")
        tracer = raw["tracer"]
        trace_path = os.path.join(base, f"trace-{args.seed}.jsonl")
        tracer.write_jsonl(trace_path)
        n = len(raw["counters"])
        self_s = {
            layer: round(v / n, 4)
            for layer, v in sorted(tracer.self_times().items())
            if layer != "workload"
        }
        print("self seconds per traced pass by layer " + json.dumps(self_s))
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        values = {
            name: statistics.median(c[name] for c in raw["counters"])
            for name in raw["counters"][0]
        }
        values["session.start_s"] = raw["session_start"]
        values["driver.peak_rss_mb"] = raw["rss_mb"]
        values["codegen.compilations"], values["codegen.compile_s"] = raw["codegen"]
        values["codegen.compile_failures"] = compile_failures
        values["trace.overhead_s"] = statistics.median(traced) - pipeline_s
        units = _units("per_layer")
    else:
        values = {
            "setup_s": raw["setup"],
            "pipeline_s": pipeline_s,
            "rows_per_s": workload.input_rows / pipeline_s,
            "query_latency_p50_s": statistics.median(latencies),
        }
        units = _units("end_to_end")
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    for name, m in metrics.items():
        print(f"metric {name} {m['value']} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    adopt_orphans()
    try:
        code = main()
    finally:
        stop_children()
    sys.exit(code)
