"""openmldb_spark benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 18 --trace 0

Run from the root of a checkout of the repository. The run

1. sets up once (session start with the JVM launch, input generation,
   DEPLOY and state build, warm-up) and reports that as ``setup_s``;
2. runs whole passes of the workload's op cycle, one and then more while
   they fit into ``--seconds``, timing every op;
3. checks the outputs: every repetition's digest against the first, the
   DuckDB oracles that share the workload's operators, and (``serve``)
   served features against the offline batch result;
4. prints each metric with its unit, then one JSON line.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans around each call plus Spark's status stores,
and writes the spans to ``.perfbench_work/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "task_s": "s",
    "request_p50_ms": "ms",
    "request_after_write_p50_ms": "ms",
    "request_tail_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "data.generate_s": "s",
    "sql.call_ms": "ms",
    "sql.request_call_ms": "ms",
    "sql.request_after_write_call_ms": "ms",
    "sql.insert_call_ms": "ms",
    "sql.deploy_call_ms": "ms",
    "plans.backfill_call_ms": "ms",
    "driver.eager_jobs": "count",
    "operators.window_call_ms": "ms",
    "operators.skew_call_ms": "ms",
    "operators.long_window_call_ms": "ms",
    "python.nodes": "count",
    "python.run_ms": "ms",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "python.rows_received": "count",
    "exchange.count": "count",
    "exchange.records": "count",
    "exchange.bytes_written": "B",
    "exchange.write_ms": "ms",
    "exchange.fetch_wait_ms": "ms",
    "exchange.records_per_input_row": "ratio",
    "sort.ms": "ms",
    "sort.peak_mb": "MB",
    "sort.spill_mb": "MB",
    "scan.ms": "ms",
    "scan.rows": "count",
    "scan.rows_per_result_row": "ratio",
    "output.rows": "count",
    "tasks.task_s": "s",
    "tasks.cpu_s": "s",
    "tasks.gc_ms": "ms",
    "tasks.count": "count",
    "stages.count": "count",
    "tasks.max_over_median": "ratio",
    "storage.cached_mb_after": "MB",
    "trace.pass_s": "s",
}
# layer numbers summed over a pass (the rest are medians, maxima or ratios)
_PER_PASS = ("driver.eager_jobs", "python.nodes", "python.run_ms", "python.boot_ms",
             "python.init_ms", "python.bytes_sent", "python.bytes_received",
             "python.rows_received", "exchange.count", "exchange.records",
             "exchange.bytes_written", "exchange.write_ms", "exchange.fetch_wait_ms",
             "sort.ms", "sort.spill_mb", "scan.ms", "scan.rows", "tasks.task_s", "tasks.cpu_s", "tasks.gc_ms", "tasks.count", "stages.count")
TAIL_BEYOND = 10


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["backfill", "kernel_windows", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "smoke"], default="full",
                   help="smoke: tiny inputs and one set-up, for the benchmark's own tests")
    return p.parse_args(argv)


def session_settings(work: Path) -> dict:
    """Session settings for a 4-core, 15 GB host without swap; recorded
    in every result so that later runs are comparable."""
    cpus = len(os.sched_getaffinity(0))
    return {
        "master": f"local[{cpus}]",
        "shuffle_partitions": 2 * cpus,
        "driver_memory": "2g",
        "local_dir": str(work / "spark-local"),
    }


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the launcher JVM that spark-submit starts first writes no perf data
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def _start_session(settings: dict, work: Path):
    from openmldb_spark.session import SessionConfig, get_spark

    keep = "100000"
    return get_spark(SessionConfig(
        master=settings["master"], app_name="openmldb_spark_perfbench",
        shuffle_partitions=settings["shuffle_partitions"],
        driver_memory=settings["driver_memory"], local_dir=settings["local_dir"],
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
                f"-Dderby.system.home={work / 'tmp'}",
            # keep every job, stage and execution of the run for the reader
            "spark.ui.retainedJobs": keep,
            "spark.ui.retainedStages": keep,
            "spark.sql.ui.retainedExecutions": keep,
        }))


def _stop_jvm(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Runs ops, times them, and remembers what each one did."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.records: list[dict] = []
        self.digests: dict[str, object] = {}
        self.sc = self.reader = None

    def bind(self, spark) -> None:
        """Run the next ops on this session."""
        from spark_status import StatusReader

        self.sc = spark.sparkContext
        self.reader = StatusReader(spark)

    def run(self, op, after_write: bool, timed: bool) -> dict:
        from checks import batch_digest

        i = len(self.records)
        rec = {"id": i, "name": op.name, "layer": op.layer, "write": op.write,
               "after_write": after_write, "timed": timed, "ok": True, "rows_out": 0,
               "check": op.check}
        digest = None
        with self.tracer.span(op.name, op=i, timed=timed):
            t0 = time.perf_counter()
            try:
                self.sc.setJobGroup(f"perfbench-{i}-call", op.name)
                with self.tracer.span(op.layer.removesuffix("_call_ms"), op=i):
                    df = op.call()
                t1 = time.perf_counter()
                self.sc.setJobGroup(f"perfbench-{i}-run", op.name)
                with self.tracer.span("action", op=i):
                    if op.collect:
                        rec["result"], rec["columns"] = df.collect(), df.columns
                        rec["rows_out"] = len(rec["result"])
                    elif not op.write:
                        digest = batch_digest(df)
                        rec["rows_out"] = digest[1]
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                rec.update(ok=False, error=repr(e)[:500])
                t1 = t2 = time.perf_counter()
            finally:
                self.sc.setJobGroup("perfbench-idle", "")
        rec.update(call_s=t1 - t0, run_s=t2 - t1, total_s=t2 - t0)
        if self.tracer.enabled:
            rec["cached_mb"] = self.reader.cached_mb()
        if rec["ok"] and op.check and rec["rows_out"] != len(op.check["requests"]):
            rec.update(ok=False, error=f"{rec['rows_out']} rows for "
                                       f"{len(op.check['requests'])} request rows")
        if digest is not None:
            # every repetition of a batch op must give the first one's output
            first = self.digests.setdefault(op.name, digest)
            if digest != first:
                rec.update(ok=False, error=f"digest {digest} != first {first}")
        self.records.append(rec)
        return rec

    def run_pass(self, cycle, timed: bool, index: int) -> None:
        after_write = False
        for make_op in cycle:
            rec = self.run(make_op(), after_write, timed)
            rec["pass"], after_write = index, rec["write"]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far, summed over
    this host's CPUs; a run that lost much of it ran on a contended host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def tail(latencies_ms: list[float]) -> tuple[float, float, int]:
    """Highest percentile, at or above the median, with at least
    TAIL_BEYOND samples beyond it: (value, percentile, sample count).
    Below 2 * TAIL_BEYOND + 1 samples there is none; the maximum (p100)
    stands in."""
    xs = sorted(latencies_ms)
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        return xs[-1], 100.0, n
    k = n - TAIL_BEYOND - 1
    return xs[k], 100.0 * (k + 1) / n, n


def end_to_end(timed: list[dict], cycle_len: int, pass_rows: int, batch: bool, setup_s: float,
               task_s_total: float, peak_rss_mb: float) -> tuple[dict, dict]:
    passes = len(timed) / cycle_len
    op_time = sum(r["total_s"] for r in timed)
    reads = [r for r in timed if not r["write"] and r["ok"]]
    plain = [1e3 * r["total_s"] for r in reads if not r["after_write"]]
    after = [1e3 * r["total_s"] for r in reads if r["after_write"]]
    tail_ms, tail_pct, n = tail([1e3 * r["total_s"] for r in reads])
    if batch:
        # a batch pass runs each query kind once, and a median over
        # kinds would follow only the middle ones: a "request" here is
        # one pass's plain batch reads, timed together
        per_pass: dict[int, float] = {}
        for r in reads:
            if not r["after_write"]:
                per_pass[r["pass"]] = per_pass.get(r["pass"], 0.0) + 1e3 * r["total_s"]
        plain = list(per_pass.values())
    values = {
        "setup_s": setup_s,
        "rows_per_s": pass_rows * passes / op_time,
        "task_s": task_s_total / passes,
        "request_p50_ms": _median(plain),
        "request_after_write_p50_ms": _median(after),
        "request_tail_ms": tail_ms,
        "peak_rss_mb": peak_rss_mb,
    }
    notes = {"request_p50_ms": f"n={len(plain)}",
             "request_after_write_p50_ms": f"n={len(after)}",
             "request_tail_ms": f"p{tail_pct:.1f}, n={n}",
             "rows_per_s": f"{pass_rows} rows per pass, {passes:.2f} passes"}
    return values, notes


def per_layer(timed: list[dict], layer_nums: list[dict], cycle_len: int, input_rows: int,
              spans: list[dict], cached_mb: list[float]) -> dict:
    passes = len(timed) / cycle_len
    out = {k: 0.0 for k in PER_LAYER}

    def durations(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def span_median(name):
        return _median(durations(name))

    out["session.start_s"] = span_median("session.start")
    out["data.generate_s"] = span_median("data.generate")
    out["sql.deploy_call_ms"] = 1e3 * span_median("sql.deploy")
    for layer in ("sql.call_ms", "sql.insert_call_ms", "plans.backfill_call_ms",
                  "operators.window_call_ms", "operators.skew_call_ms",
                  "operators.long_window_call_ms"):
        out[layer] = 1e3 * _median([r["call_s"] for r in timed if r["layer"] == layer])
    req = [r for r in timed if r["layer"] == "sql.request_call_ms"]
    out["sql.request_call_ms"] = 1e3 * _median([r["call_s"] for r in req if not r["after_write"]])
    out["sql.request_after_write_call_ms"] = 1e3 * _median(
        [r["call_s"] for r in req if r["after_write"]])
    for nums in layer_nums:
        for k in _PER_PASS:
            out[k] += nums.get(k, 0.0) / passes
        out["sort.peak_mb"] = max(out["sort.peak_mb"], nums.get("sort.peak_mb", 0.0))
        out["tasks.max_over_median"] = max(out["tasks.max_over_median"],
                                           nums.get("tasks.max_over_median", 0.0))
    out["output.rows"] = sum(r["rows_out"] for r in timed if not r["write"]) / passes
    out["exchange.records_per_input_row"] = out["exchange.records"] / input_rows
    if out["output.rows"]:
        out["scan.rows_per_result_row"] = out["scan.rows"] / out["output.rows"]
    out["storage.cached_mb_after"] = _median(cached_mb)
    out["trace.pass_s"] = sum(r["total_s"] for r in timed) / passes
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "openmldb_spark" / "__init__.py").is_file() \
            or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no openmldb_spark sources under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    _prepare_env(work)
    sys.path.insert(0, str(HERE))
    import checks
    import workloads
    from tracing import RssSampler, Tracer

    settings = session_settings(work)
    wl = workloads.make(args.workload, args.seed, args.scale)
    tracer = Tracer(enabled=bool(args.trace))
    runner = Runner(tracer)
    layer_nums, cached_mb = [], []
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = _start_session(settings, work)
            runner.bind(spark)
            with tracer.span("data.generate"):
                wl.setup(spark, tracer)
            with tracer.span("warmup"):
                # one untimed pass: every op kind, the read after a write
                # included, runs before timing starts
                runner.run_pass(wl.cycle(), timed=False, index=-1)
        setup_s = time.perf_counter() - t0
        print(f"perfbench inputs {args.workload} seed={args.seed} "
              f"digest={checks.batch_digest(wl.inputs())}")

        cycle = wl.cycle()
        steal0 = cpu_steal_s()
        with RssSampler(os.getpid()) as rss:
            # whole passes, so every run has the same mix of ops; another
            # pass starts only if one more fits into the time left
            deadline = time.perf_counter() + args.seconds
            for index in itertools.count():
                t0 = time.perf_counter()
                runner.run_pass(cycle, timed=True, index=index)
                if time.perf_counter() + (time.perf_counter() - t0) > deadline:
                    break
        steal_s = cpu_steal_s() - steal0
        timed = [r for r in runner.records if r["timed"]]

        reader = runner.reader
        reader.drain()
        task_s_total = 0.0
        for r in timed:
            call_jobs = reader.job_ids(f"perfbench-{r['id']}-call")
            jobs = call_jobs + reader.job_ids(f"perfbench-{r['id']}-run")
            nums = reader.task_numbers(jobs)
            task_s_total += nums["tasks.task_s"]
            if args.trace:
                nums.update(reader.plan_numbers(jobs), **{"driver.eager_jobs": len(call_jobs)})
                layer_nums.append(nums)
                cached_mb.append(r["cached_mb"])

        # output checks, untimed
        failures = [f"{r['name']}#{r['id']}: {r['error']}" for r in runner.records if not r["ok"]]
        gate = []
        if wl.gate:
            with tracer.span("gate"):
                gate = checks.run_gate(spark, wl.gate,
                                       checks.write_gate_events(work / "gate", args.seed))
        failures += [f"oracle {n}: {'; '.join(e)[:300]}" for n, e in gate if e]
        seeded = wl.checks(timed)
        for name, check in seeded:
            try:
                with tracer.span("check", check=name):
                    errs = check()
            except Exception as e:  # noqa: BLE001 — a check that cannot run has failed
                traceback.print_exc(file=sys.stderr)
                errs = [repr(e)[:300]]
            if errs:
                failures.append(f"{name}: {'; '.join(errs)[:300]}")
        attempted = len(runner.records) + len(gate) + len(seeded)
    finally:
        if spark is not None:
            _stop_jvm(spark)

    for r in timed:
        print(f"perfbench op {r['id']} {r['name']} after_write={r['after_write']} "
              f"call_ms={1e3 * r['call_s']:.1f} run_ms={1e3 * r['run_s']:.1f}", file=sys.stderr)
    for f in failures:
        print(f"perfbench FAILED {f}", file=sys.stderr)
    values, notes = end_to_end(timed, len(cycle), wl.pass_rows(), wl.batch, setup_s,
                               task_s_total, rss.peak_mb)
    print("perfbench settings " + json.dumps({**settings, "workload": args.workload,
                                              "seed": args.seed, "seconds": args.seconds,
                                              "scale": args.scale,
                                              "timed_cpu_steal_s": round(steal_s, 2)}))
    if args.trace:
        metrics = per_layer(timed, layer_nums, len(cycle), wl.pass_rows(), tracer.spans, cached_mb)
        units = PER_LAYER
        tracer.dump(str(base / f"trace-{args.workload}-s{args.seed}.json"),
                    {"settings": settings, "metrics": metrics,
                     "ops": [{k: v for k, v in r.items() if k not in ("result", "check")}
                             for r in runner.records]})
        untraced = base / f"last-{args.workload}-s{args.seed}.json"
        if untraced.is_file():
            ref = json.loads(untraced.read_text())["pass_s"]
            print(f"tracing overhead {100 * (metrics['trace.pass_s'] / ref - 1):+.1f}% "
                  f"of the untraced run's pass time ({ref:.3f} s)")
    else:
        metrics, units = values, END_TO_END
        (base / f"last-{args.workload}-s{args.seed}.json").write_text(json.dumps(
            {"pass_s": sum(r["total_s"] for r in timed) / (len(timed) / len(cycle))}))
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}" + (f" ({notes[k]})" if not args.trace and k in notes else ""))
    failed = len(failures)
    print(f"error_rate {failed / attempted:.6g} ({failed} of {attempted} ops and checks failed)")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
