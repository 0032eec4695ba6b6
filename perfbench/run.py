"""Benchmark of the extraction engine's user jobs (metrics: METRICS.md).

    python3 perfbench/run.py --workload extract-cold --seed 1 --seconds 22 --trace 0

One process holds one ``local[nproc]`` Spark session and runs the workload
as a closed loop: it submits the next job only after the previous one
finished, while the next job is expected to end within ``--seconds``.
Inputs are generated from ``--seed``; every job's output is checked.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is the traced
run: the loop runs untraced for half the time, then the session restarts
with Spark's event log on, the loop runs traced for the other half, and
each layer's public functions are timed on the workload's input.  It prints
every per-layer metric.  The last line of standard output is one JSON object
with the metrics ``BENCHMARK.json`` lists for that mode; the lines above it
are the same numbers, and the ones ``BENCHMARK.json`` cannot hold, for people.
All scratch files live in ``.bench_work/`` of the checkout and are removed
at exit.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # leave no caches in the checkout


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of the machine's RAM, between 1 and 2 GiB."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return max(1024, min(2048, total_kb // 8 // 1024))


def start_spark(work: str, cpus: int, event_log: str | None):
    from ocr_translate_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_jvm() -> None:
    """Stop the session and the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _running(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reaps it if it is our child and has ended
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(pids: list[int], grace_s: float = 20.0) -> None:
    """Stop the JVM and the input generators' resource tracker, then wait
    until ``pids`` and every remaining descendant have ended, killing those
    still running after ``grace_s``."""
    from multiprocessing import resource_tracker

    import probes

    try:
        stop_jvm()
    finally:
        resource_tracker._resource_tracker._stop()  # closes its pipe, waits for it
        pids = set(pids) | set(probes.descendants(os.getpid()))
        deadline = time.monotonic() + grace_s
        while any(map(_running, pids)) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in filter(_running, pids):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(map(_running, pids)):
            time.sleep(0.1)


def closed_loop(wl, tracer, seconds: float) -> dict:
    """Run jobs back to back while the next one is expected to end within
    ``seconds`` (at least one job); per-job wall time and docs per second."""
    times, rates, failed = [], [], 0
    start = time.monotonic()
    while True:
        with tracer.span(wl.entry) as span:
            t0 = time.perf_counter()
            try:
                docs = wl.job()
            except Exception:  # a failed job is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                docs = None
            dt = time.perf_counter() - t0
        if docs is None:
            failed += 1
        else:
            wl.after_job(span)
            times.append(dt)
            rates.append(docs / dt)
        if time.monotonic() - start + dt > seconds or wl.exhausted():
            return {"times": times, "rates": rates, "attempted": len(times) + failed,
                    "failed": failed}


def end_to_end(loop: dict, setup_s: float, peak_rss: int, wl) -> dict:
    times = loop["times"]
    return {
        "docs_per_s": statistics.median(loop["rates"]),
        "job_s.p50": statistics.median(times),
        # a run holds too few jobs for any percentile below the maximum to
        # keep 10 samples above it (perfbench/METRICS.md), so the tail is p100
        "job_s.tail": max(times),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "bytes_written_per_input_byte": wl.bytes_written_per_input_byte(),
        "mismatch_frac": wl.mismatches / wl.checked,
        "failed_frac": loop["failed"] / loop["attempted"],
    }


UNITS = {
    # end to end
    "docs_per_s": "docs/s", "job_s.p50": "s", "job_s.tail": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "bytes_written_per_input_byte": "ratio",
    "mismatch_frac": "ratio", "failed_frac": "ratio",
    # per layer, where the name does not end in ".s" (seconds) or "_s"
    "kernels.html_extract.pages_per_s": "pages/s",
    "kernels.pdf_extract.pages_per_s": "pages/s",
    "kernels.share_of_extract_task_s": "ratio",
    "operators.extract.shuffle_write_bytes_per_doc": "bytes/doc",
    "operators.extract.spill_bytes": "bytes",
    "io.tables.bytes_written_per_doc": "bytes/doc",
    "curate.curate_corpus.shuffle_write_bytes_per_doc": "bytes/doc",
    "curate.curate_corpus.spill_bytes": "bytes",
    "operators.dedup.minhash_lsh_candidates.candidates_per_doc": "pairs/doc",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith((".s", "_s")):
        return "s"
    return "ratio" if name.endswith(("frac", "max_over_p50")) else "count"


def summary(loop: dict, wl) -> dict:
    return {"attempted": loop["attempted"], "failed": loop["failed"], "times": loop["times"],
            "correct": wl.checked > 0 and wl.mismatches == 0}


def run(args, work: str, rss) -> tuple[dict, dict]:
    import probes
    from workloads import WORKLOADS

    cpus = host_cpus()
    wl = WORKLOADS[args.workload](work, args.seed, cpus)
    # inputs are generated by worker processes while the JVM starts
    spawn = multiprocessing.get_context("spawn")
    with concurrent.futures.ProcessPoolExecutor(cpus, mp_context=spawn) as pool:
        wl.generate(pool)
        t0 = time.perf_counter()
        spark = start_spark(work, cpus, None)
        session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        wl.setup(spark)
    t2 = time.perf_counter()
    wl.warmup()
    setup_s = probes.process_age_s()
    print(f"set-up: session {session_s:.2f} s, inputs {t2 - t1:.2f} s, "
          f"warm-up {time.perf_counter() - t2:.2f} s, total {setup_s:.2f} s")

    tracer = probes.Tracer(spark)
    if not args.trace:
        loop = closed_loop(wl, tracer, args.seconds)
        wl.finish()
        metrics = end_to_end(loop, setup_s, rss.peak_bytes, wl)
        print("peak rss by process: " + ", ".join(
            f"{k} {v / 2**20:.0f} MB" for k, v in sorted(rss.at_peak.items())))
        return metrics, summary(loop, wl)

    untraced = closed_loop(wl, tracer, args.seconds / 2)
    spark.stop()
    log_dir = os.path.join(work, "eventlog")
    spark = start_spark(work, cpus, log_dir)  # same JVM, new context
    wl.spark = tracer.spark = spark
    tracer.enabled = True
    wl.warmup()
    wl.trace_io()
    loop = closed_loop(wl, tracer, args.seconds / 2)
    layers = wl.layers(tracer)
    wl.finish()
    spark.stop()  # flushes the event log
    log = probes.read_event_log(log_dir)
    metrics = {
        "session.get_spark.s": session_s,
        "trace.overhead_frac": 1 - statistics.median(loop["rates"]) / statistics.median(untraced["rates"]),
        **layers,
        **wl.log_metrics(log, layers),
    }
    both = {k: untraced[k] + loop[k] for k in ("attempted", "failed", "times")}
    return metrics, summary(both, wl)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract-cold", "extract-recrawl", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "ocr_translate_spark")) or not os.path.isfile(spec_path):
        print(f"perfbench: {ROOT} lacks the ocr_translate_spark package or BENCHMARK.json; "
              "run the benchmark from a checkout of the repo", file=sys.stderr)
        return 2
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    import probes

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # inherited by the input generators, the JVM and Spark's Python workers:
    # scratch files stay in the work directory, no bytecode caches are written
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    try:
        with probes.PeakRss() as rss:
            metrics, done = run(args, work, rss)
    finally:
        stop_all(probes.descendants(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} jobs={done['attempted']} failed={done['failed']} "
          f"job_s=[{', '.join(f'{t:.3f}' for t in done['times'])}]")
    for name, value in metrics.items():
        shown = "n/a (curation writes no warehouse)" if value is None else f"{value:.6g}"
        print(f"  {name:58s} {shown} {unit_of(name) if value is not None else ''}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": done["correct"],
        "attempted": done["attempted"],
        "failed": done["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
