"""Benchmark of the ocr_spark engine: one seeded batch workload per call.

    python3 perfbench/run.py --workload crawl_dedup --seed 1 --seconds 15 --trace 0

Run from the repository root. Each call sets the workload up several times
(session start, Python-worker warm-up, input generation, page
materialization) and reports the median set-up, runs untimed warm-up
jobs, then runs the job back to back (a closed loop) for ``--seconds`` of
wall time. Every run's output is checked byte for byte outside the timed
window.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
prints its per-layer metrics, from a second session that writes Spark's
event log and gives every span its own job group, plus a single-thread
kernel trace. The last stdout line is the result JSON; the line before it
is a report with the measured input shares, the raw samples and any
failing documents. Spans are written to ``.perfbench_run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3  # set-ups per call; setup_s is their median
WARMUP_RUNS = 2  # untimed jobs before the first timed one
MIN_RUNS = 3  # timed jobs per measured window, whatever --seconds says
# A fixed, pre-touched Spark driver heap: the JVM's resident size then does not
# depend on how far G1 happened to grow the heap, so peak_rss_mb moves
# with Python-worker and off-heap memory.
DRIVER_HEAP = "1g"
KERNEL_SAMPLE = 200  # pages per single-thread kernel trace


def cpus() -> int:
    """local[k]: k = half the CPUs this process may use (at most 4 of
    them), so a task's JVM thread and its Python worker, the JVM's GC and
    JIT threads and the driver all find a free core."""
    return max(1, min(4, len(os.sched_getaffinity(0))) // 2)


def _noop(batches):
    yield from batches


def new_runs() -> dict:
    return {"ids": [], "job_s": [], "wall_s": [], "steal": [], "resume_s": []}


class Bench:
    def __init__(self, workload, work: str, k: int):
        self.workload = workload
        self.work = work
        self.k = k
        self.spark = None
        # failure accounting over every timed (and so checked) job
        self.attempted = 0
        self.failed = 0
        self.failing: set = set()

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_session(self, event_log: str | None = None) -> float:
        """Starts a session and one Python worker per core; returns the
        seconds the session start took."""
        from ocr_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            # whole input paths in plan strings, so the event log can tell
            # the input scan from scans of the job's own output
            "spark.sql.maxMetadataStringLength": "4096",
        }
        if event_log:
            os.makedirs(event_log)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.k}]", shuffle_partitions=self.k,
            extra_conf=conf,
        )
        started = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(self.k * 64, numPartitions=self.k).mapInPandas(
            _noop, "id long"
        ).write.format("noop").mode("overwrite").save()
        return started

    def setup(self, seed: int) -> tuple[list[float], list[float]]:
        setup_s, start_s = [], []
        for i in range(SETUPS):
            self.stop_session()
            shutil.rmtree(os.path.join(self.work, f"setup{i - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            start_s.append(self.start_session())
            self.workload.setup(self.spark, self.fresh_dir(f"setup{i}"), seed)
            setup_s.append(time.perf_counter() - t0)
        return setup_s, start_s

    def warm_up(self, tracer) -> None:
        """Untimed, unchecked jobs, so codegen, the JIT, caches and worker
        imports are warm before the first timed job."""
        for i in range(WARMUP_RUNS):
            tracer.run_id = f"warmup{i}"
            self.workload.run(self.spark, self.fresh_dir("out"), tracer)

    def prepare(self) -> None:
        """Expected outputs (the DuckDB oracle takes seconds) are computed
        while the warm-up jobs run; neither is timed."""
        from concurrent.futures import ThreadPoolExecutor

        from tracing import NullTracer

        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(self.workload.expect, self.spark)
            self.warm_up(NullTracer())
            expected.result()

    def run_once(self, tracer, run_id: str, runs: dict, on_run=None) -> None:
        """One timed job, appended to ``runs``; its output is checked
        outside the timed window, then deleted."""
        from tracing import cpu_ticks

        out = self.fresh_dir("out")
        tracer.run_id = run_id
        busy, stolen = cpu_ticks()
        result = self.workload.run(self.spark, out, tracer)
        busy, stolen = (b - a for a, b in zip((busy, stolen), cpu_ticks()))
        # wall time net of the CPU time the hypervisor stole from this VM
        steal = stolen / (stolen + busy) if stolen else 0.0
        runs["ids"].append(run_id)
        runs["wall_s"].append(result["job_s"])
        runs["steal"].append(steal)
        runs["job_s"].append(result["job_s"] * (1 - steal))
        if "resume_s" in result:
            runs["resume_s"].append(result["resume_s"] * (1 - steal))
        bad = self.workload.check(self.spark, out, result)
        self.attempted += self.workload.n_docs
        self.failed += len(bad)
        self.failing |= bad
        if on_run is not None:
            on_run(run_id, out, result)
        shutil.rmtree(out)

    def measure(self, seconds: float, tracer, label: str) -> dict:
        """Runs the job back to back for ``seconds`` of wall time (checks
        included) and at least ``MIN_RUNS`` jobs."""
        runs = new_runs()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(runs["job_s"]) < MIN_RUNS:
            self.run_once(tracer, f"{label}{len(runs['job_s'])}", runs)
        return runs

    def shutdown(self) -> None:
        """Stops the session, the JVM and every process they started, and
        waits for each to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop_session()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap_descendants()


def _reap_descendants(timeout: float = 30) -> None:
    """Waits for every process this one started to end; kills what is left
    after ``timeout`` seconds."""
    from tracing import descendants

    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + timeout:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def end_to_end(bench: Bench, seconds: float, report: dict) -> dict:
    from tracing import NullTracer, RssSampler, median

    with RssSampler() as rss:
        runs = bench.measure(seconds, NullTracer(), "run")
    job_s = median(runs["job_s"])
    report |= {k: runs[k] for k in ("job_s", "wall_s", "steal", "resume_s")}
    return {
        "docs_per_s": bench.workload.n_docs / job_s,
        "job_s": job_s,
        "setup_s": median(report["setup_s"]),
        "peak_rss_mb": rss.peak_mb,
    }


def per_layer(bench: Bench, seconds: float, report: dict, spans_path: str) -> dict:
    """A session with Spark's event log on, alternating traced jobs (a span
    and job group per engine call) with untraced ones, so both see the
    same JIT warm-up; then the single-thread kernel trace."""
    from layers import layer_metrics
    from tracing import NullTracer, Tracer, kernel_trace, read_event_log

    w = bench.workload
    event_log = os.path.join(bench.work, "eventlog")
    bench.stop_session()
    bench.start_session(event_log=event_log)
    tracer = Tracer(bench.spark.sparkContext)
    counts: dict[str, dict] = {}

    def count(run, out, result):
        counts[run] = w.layer_counts(run, bench.spark, out, result)

    traced, untraced = new_runs(), new_runs()
    with w.instrumented(tracer):
        bench.warm_up(tracer)
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(traced["job_s"]) < MIN_RUNS:
        i = len(traced["job_s"])
        with w.instrumented(tracer):
            bench.run_once(tracer, f"rep{i}", traced, on_run=count)
        bench.run_once(NullTracer(), f"untraced{i}", untraced)
    bench.stop_session()  # flushes the event log
    kernels = kernel_trace(w.sample_pages(KERNEL_SAMPLE))
    tracer.write(spans_path)
    report |= {
        "untraced_job_s": untraced["job_s"], "traced_job_s": traced["job_s"],
        "steal": traced["steal"] + untraced["steal"],
        "kernel_sample": kernels, "spans": os.path.relpath(spans_path, ROOT),
    }
    return layer_metrics(
        w, read_event_log(event_log), tracer, counts, kernels,
        untraced=untraced, traced=traced, session_start_s=report["session_start_s"],
        k=bench.k,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]

    sys.path[:0] = [ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(run_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # what Spark, the JVMs (the launcher's too) and the Python workers
    # write stays in `work`
    os.environ |= {
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }

    bench = Bench(WORKLOADS[args.workload](), work, cpus())
    try:
        t0 = time.perf_counter()
        setup_s, start_s = bench.setup(args.seed)
        t1 = time.perf_counter()
        bench.prepare()
        t2 = time.perf_counter()
        report = {
            "workload": args.workload, "seed": args.seed, "cpus": bench.k,
            "inputs": bench.workload.shares(),
            "setup_s": setup_s, "session_start_s": start_s,
        }
        if args.trace:
            spans = os.path.join(run_dir, f"spans-{args.workload}-{args.seed}.json")
            metrics = per_layer(bench, args.seconds, report, spans)
        else:
            metrics = end_to_end(bench, args.seconds, report)
        t3 = time.perf_counter()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    report["phase_s"] = {
        "setups": t1 - t0, "expect_and_warm_up": t2 - t1, "measure": t3 - t2,
        "shutdown": time.perf_counter() - t3,
    }

    report |= {
        "fail_frac": bench.failed / bench.attempted,
        "failing": sorted(map(str, bench.failing))[:50],
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
