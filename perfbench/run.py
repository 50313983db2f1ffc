"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed
under `.bench_run/`, pins the Spark environment, boots one session at
`local[<cores>]`, runs the workload (see workloads.py) and verifies its
outputs, untimed. The last line of standard output is one JSON object
{"correct", "attempted", "failed", "metrics"}: with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics, measured by spans around the package's public calls (spans.py)
and written to `.bench_out/` at exit. The line before it carries the
workload's own figures and the run environment.

Exits non-zero, printing no result, when the checkout lacks the package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("taico_data_integration_spark/__init__.py", "bench.py", "tools/compare_oracle.py")
SCALE_FACTOR = {"headline": 0.01, "lifecycle": 0.002}
SETUP_REPS = 3  # input generations per run; setup_s takes their median
DRIVER_MEM = "2g"
UI_RETAINED = 100_000


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Fix what the session factory reads from the environment, keep every
    file the JVM and its workers write inside `run_dir`, and return the
    record of it."""
    cores = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher included
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed-size driver heap: G1 resizing otherwise makes peak RSS
        # bimodal from run to run
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Xms{DRIVER_MEM} "
            f"--conf spark.ui.showConsoleProgress=false "
            # keep every stage for the traced run's REST probe (the default
            # 1000 is reached within a lifecycle run)
            f"--conf spark.ui.retainedStages={UI_RETAINED} --conf spark.ui.retainedJobs={UI_RETAINED} "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell"
        ),
    )
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cores": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "mem_total_mb": mem_kb // 1024,
        "loadavg_start": os.getloadavg(),
    }


def launch_session(log_path: str):
    """get_spark() with the JVM's stderr sent to `log_path` (the driver log
    the accumulator-error count reads). Returns (spark, seconds)."""
    from taico_data_integration_spark.session import get_spark

    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 2)
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        return spark, time.perf_counter() - t0
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        os.close(fd)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and every process it started, and
    wait for each to end."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}") and not _zombie(k)]
        time.sleep(0.05)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def end_to_end(out, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.seconds for p in out.passes if not p.traced),
        "peak_rss_mb": rss_mb,
    }


def _incomplete(probe: dict) -> bool:
    """Stage metrics of a step may be incomplete: accumulator errors were
    logged, or a stage was missing from the UI."""
    return bool(probe.get("accumulator_errors") or probe.get("missing_stages"))


def per_layer(out, tracer, boot_s: float, gen_s: float, cores: int, untraced_pass_s) -> dict:
    """Median over the traced passes of each per-pass layer figure."""
    from spans import JOIN_METRICS
    from workloads import HEADLINE

    rows = []
    for p in out.passes:
        if not p.traced:
            continue
        spans = [s for s in tracer.spans if s.step and s.step.startswith(p.prefix)]
        probes = [s.probe for s in p.steps]
        total = lambda key: sum(r.get(key, 0) for r in probes)  # noqa: E731
        dur = lambda sel: sum(s.end - s.start for s in spans if sel(s))  # noqa: E731
        outer = [s for s in spans if s.layer == "tablestore" and s.attrs.get("outer")]
        by_name = {s.name: s.seconds for s in p.steps}
        selfs = tracer.self_times(spans)
        suites = total("check_suites")
        row = {
            "catalog.load_table_calls": sum(1 for s in spans if s.layer == "catalog"),
            "catalog.load_table_s": dur(lambda s: s.layer == "catalog"),
            "queries.build_s": sum(s.build_s for s in p.steps),
            "queries.build_py4j_calls": sum(s.py4j_calls for s in p.steps),
            "queries.build_jobs": total("build_jobs"),
            **{f"queries.{q}_s": by_name.get(q, 0.0) for q in HEADLINE},
            "plans.analysis_ms": total("analysis_ms"),
            "plans.optimization_ms": total("optimization_ms"),
            "plans.planning_ms": total("planning_ms"),
            "plans.exchanges": total("exchanges"),
            **{f"plans.{m}": total(m) for m in JOIN_METRICS.values()},
            **{f"exec.{k}": total(k) for k in (
                "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "accumulator_errors")},
            "exec.core_util": total("executor_run_ms") / (p.seconds * 1000 * cores),
            "exec.incomplete_steps": sum(1 for r in probes if _incomplete(r)),
            "checks.run_checks_s": dur(lambda s: s.layer == "checks"),
            "checks.suites": suites,
            "checks.jobs_per_suite": total("check_jobs") / suites if suites else 0,
            **{f"tablestore.{m}_s": sum(s.end - s.start for s in outer if s.name == m)
               for m in ("write", "merge_in", "delete_in", "read_point", "compact", "vacuum")},
            **{f"tablestore.{k}": sum(s.attrs.get(k, 0) for s in outer)
               for k in ("files_rewritten", "files_linked", "bytes_written")},
            **{f"pipelines.{n}_s": by_name.get(n, 0.0) for n in ("retail", "facebook", "facebook_incr", "etl")},
            "pipelines.ingest_batch_s": sum(s.seconds for s in p.steps if s.kind == "ingest"),
            **{f"self.{layer}_s": selfs.get(layer, 0.0) for layer in (
                "step", "queries", "catalog", "exec", "checks", "tablestore", "pipelines")},
            "trace.spans": len(spans),
            "trace.self_s": p.probe_s,
            "pass_s": p.seconds,
        }
        rows.append(row)
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    traced_pass_s = med.pop("pass_s")
    med["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    med.update({
        "session.boot_s": boot_s,
        "fixtures.gen_s": gen_s,
        "warmup.passes_discarded": len(out.warmup_passes),
    })
    return med


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: checkout at {ROOT} lacks {missing}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from fixtures import write_fixtures
    from spans import NullTracer, StepProbe, Tracer, read_hwm_kb
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".bench_out")
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    env = pin_environment(run_dir)
    log_path = os.path.join(run_dir, "driver.log")
    spark = None
    try:
        gen = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            data_dir = os.path.join(run_dir, f"data{i}")
            write_fixtures(data_dir, SCALE_FACTOR[args.workload], args.seed)
            gen.append(time.perf_counter() - t0)
        spark, boot_s = launch_session(log_path)
        sc = spark.sparkContext
        env.update(master=sc.master, default_parallelism=sc.defaultParallelism,
                   shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"))
        tracer, probe = NullTracer(), None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
            tracer.active = False
            probe = StepProbe(spark, log_path, tracer)
        ctx = Context(spark, data_dir, run_dir, args.seed, args.seconds, tracer, probe)
        out = WORKLOADS[args.workload](ctx)
        if args.trace:
            tracer.uninstall()
        rss_mb = (read_hwm_kb("self") + read_hwm_kb(sc._gateway.proc.pid)) / 1024
        env["loadavg_end"] = os.getloadavg()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    steps = [s for p in out.passes for s in p.steps]
    failed = sum(not s.ok for s in steps) + sum(not v for v in out.checks.values())
    attempted = len(steps) + len(out.checks)
    setup_s = boot_s + statistics.median(gen) + out.warmup_s
    if args.trace:
        untraced = statistics.median(p.seconds for p in out.passes if not p.traced)
        values = per_layer(out, tracer, boot_s, statistics.median(gen), env["cores"], untraced)
        wanted = spec["per_layer"]
        tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.jsonl"))
    else:
        values = end_to_end(out, setup_s, rss_mb)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale_factor": SCALE_FACTOR[args.workload], "environment": env,
        "setup": {"boot_s": boot_s, "gen_s": gen, "warmup_s": out.warmup_s,
                  "warmup_passes_s": out.warmup_passes},
        "passes_s": [p.seconds for p in out.passes],
        "failed_ratio": failed / attempted, "checks": out.checks, **out.detail,
    }
    if args.trace:  # one record per traced step
        detail["steps"] = [
            {"pass": p.prefix, "name": s.name, "seconds": s.seconds, "build_s": s.build_s,
             "py4j_calls": s.py4j_calls, **s.probe,
             "stage_metrics_incomplete": _incomplete(s.probe)}
            for p in out.passes if p.traced for s in p.steps
        ]
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
