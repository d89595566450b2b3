#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout (the program is imported from there).
Workloads: ``ingest_serve``, ``curate`` (perfbench/README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
span tracer and Spark's event log and prints the per-layer metrics.
Every run also writes a self-describing artifact under
``.perfbench/artifacts/c<cores>/``. The exit code is 0 only when every
operation and every output check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEMORY = "2g"
#: JIT compiler threads of the driver JVM (the default on 4 CPUs is 3).
#: More threads drain the compile queue sooner, so the JVM reaches its
#: steady state within the warm-up and the first seconds of a run
#: instead of after a minute or two; the compiled code is the same.
JIT_COMPILER_THREADS = 6
#: Tail percentile of the op latencies (see BENCHMARK.json / README).
TAIL_Q = 0.75

#: End-to-end metrics, printed by an untraced run.
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "items_per_s": "1/s",
    "recall": "frac",
}

#: Per-layer metrics printed by a traced run: the times every workload
#: measures, and counts, ratios and rates (a workload that bypasses a
#: layer counts 0 there). Layer times only some workloads produce are
#: in the artifact's ``per_layer`` table.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "io.load_table.calls": "count",
    "io.load_table.s": "s",
    "io.load_table.jobs": "count",
    "io.bytes_read": "bytes",
    "io.bytes_written": "bytes",
    "io.scan_s": "s",
    "sources.extract_pages.jobs_at_build": "count",
    "sources.python.bytes_sent": "bytes",
    "sources.python.bytes_returned": "bytes",
    "sources.pdf_pure.pages_per_s": "1/s",
    "sources.ocr.pages_per_s": "1/s",
    "sources.ocr_page_frac": "ratio",
    "snippetize.rows_out": "count",
    "catalog.apply_actions.jobs": "count",
    "catalog.materialize.jobs": "count",
    "catalog.rows_rewritten_per_changed_row": "ratio",
    "streaming.command_batch_processor.jobs": "count",
    "streaming.command_batch_processor.stages": "count",
    "similarity.active_snippet_topk.jobs": "count",
    "similarity.ivf_topk.jobs": "count",
    "similarity.ivf.candidates_per_result": "ratio",
    "dedup.near_duplicates_minhash.jobs_at_build": "count",
    "dedup.candidates": "count",
    "dedup.verified_per_candidate": "ratio",
    "kmeans.kmeans_integer_model.jobs_at_build": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "trace.bookkeeping_s": "s",
}


def _boottime() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _process_start() -> float:
    """This process's start, on the CLOCK_BOOTTIME scale, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> tuple[float, list[tuple[str, float]]]:
    """Sum of VmHWM (peak resident set) over this process, the JVM and
    the Python workers, and the (name, MB) of each."""
    per_process = []
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            per_process.append((fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024))
    return sum(mb for _, mb in per_process), per_process


def percentile(xs: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_ingestion_py_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def start_spark(cores: int, work: str, event_log: str | None):
    from data_ingestion_py_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true"
        f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        f" -XX:CICompilerCount={JIT_COMPILER_THREADS}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", **conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, get_spark_s


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and the
    Python workers to exit."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def storage_memory_bytes(spark) -> int:
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._1()
    return int(total)


def e2e_metrics(rec, setup_s: float, rss_mb: float, quality: dict) -> dict:
    w, r = rec.samples["write"], rec.samples["read"]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "write_p50_s": percentile(w, 0.5),
        "write_tail_s": percentile(w, TAIL_Q),
        "read_p50_s": percentile(r, 0.5),
        "read_tail_s": percentile(r, TAIL_Q),
        "items_per_s": percentile(rec.samples["rate"], 0.5),
        "recall": quality.get("recall", 0.0),
    }


def layer_metrics(tracer, groups, rec, probes: dict, get_spark_s: float) -> tuple[dict, dict]:
    from perfbench import trace

    flat, table = trace.per_layer(tracer, groups)
    tot = trace.totals(groups)

    def g(key: str) -> float:
        return flat.get(key, 0.0)

    build_exec = lambda n, k: g(f"{n}.{k}") + g(f"{n}.exec.{k}")  # noqa: E731
    m = {
        "session.get_spark_s": get_spark_s,
        "io.load_table.calls": g("io.load_table.calls"),
        "io.load_table.s": g("io.load_table.s"),
        "io.load_table.jobs": g("io.load_table.jobs"),
        "io.write_partitioned.s": g("io.write_partitioned.s"),
        "io.bytes_written": tot["bytes_written"],
        "io.bytes_read": tot["bytes_read"],
        "io.scan_s": tot["scan_ms"] / 1e3,
        "sources.extract_pages.build_s": g("sources.extract_pages.s"),
        "sources.extract_pages.jobs_at_build": g("sources.extract_pages.jobs_self"),
        "sources.python.run_s": tot["py_run_ms"] / 1e3,
        "sources.python.init_s": tot["py_init_ms"] / 1e3,
        "sources.python.bytes_sent": tot["py_bytes_sent"],
        "sources.python.bytes_returned": tot["py_bytes_returned"],
        "sources.pdf_pure.pages_per_s": probes.get("sources.pdf_pure.pages_per_s", 0.0),
        "sources.ocr.pages_per_s": probes.get("sources.ocr.pages_per_s", 0.0),
        "sources.ocr_page_frac": probes.get("sources.ocr_page_frac", 0.0),
        "snippetize.build_s": g("snippetize.s"),
        "snippetize.rows_out": g("io.write_partitioned.records_written")
        + rec.counters.get("snippetize.rows_read", 0),
        "catalog.apply_actions.s": g("catalog.apply_actions.s"),
        "catalog.apply_actions.jobs": g("catalog.apply_actions.jobs"),
        "catalog.materialize.s": g("catalog.materialize.s"),
        "catalog.materialize.jobs": g("catalog.materialize.jobs"),
        "catalog.rows_rewritten_per_changed_row": (
            g("catalog.materialize.records_read") / rec.counters["catalog.changed_rows"]
            if rec.counters.get("catalog.changed_rows") else 0.0
        ),
        "catalog.snippets.build_s": g("catalog.snippets.s"),
        "streaming.command_batch_processor.s": g("streaming.command_batch_processor.s"),
        "streaming.command_batch_processor.jobs": g("streaming.command_batch_processor.jobs"),
        "streaming.command_batch_processor.stages": g("streaming.command_batch_processor.stages"),
        "similarity.active_snippet_topk.s": build_exec("similarity.active_snippet_topk", "s"),
        "similarity.active_snippet_topk.jobs": build_exec("similarity.active_snippet_topk", "jobs"),
        "similarity.ivf_topk.s": build_exec("similarity.ivf_topk", "s"),
        "similarity.ivf_topk.jobs": build_exec("similarity.ivf_topk", "jobs"),
        "similarity.ivf.candidates_per_result": probes.get("similarity.ivf.candidates_per_result", 0.0),
        "dedup.near_duplicates_minhash.build_s": g("dedup.near_duplicates_minhash.s"),
        "dedup.near_duplicates_minhash.jobs_at_build": g("dedup.near_duplicates_minhash.jobs"),
        "dedup.near_duplicates_minhash.exec_s": g("dedup.near_duplicates_minhash.exec.s"),
        "dedup.candidates": probes.get("dedup.candidates", 0.0),
        "dedup.verified_per_candidate": probes.get("dedup.verified_per_candidate", 0.0),
        "kmeans.kmeans_integer_model.build_s": g("kmeans.kmeans_integer_model.s"),
        "kmeans.kmeans_integer_model.jobs_at_build": g("kmeans.kmeans_integer_model.jobs"),
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.shuffle_fetch_wait_s": tot["shuffle_fetch_wait_ms"] / 1e3,
        "spark.scheduler_delay_s": tot["scheduler_delay_ms"] / 1e3,
        "spark.spill_bytes": tot["spill_bytes"],
        "trace.bookkeeping_s": tracer.bookkeeping_s,
    }
    return m, table


def previous_untraced(out_dir: str, workload: str, seed: int) -> dict | None:
    """The untraced artifact to compare a traced run against: same
    workload, core count and seed, so that both ran on the same inputs."""
    path = os.path.join(out_dir, f"{workload}-s{seed}-e2e.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    t_start = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest_serve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # The program under test is the checkout's own package, never an
    # installed copy; its Python workers import it from there too.
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    import data_ingestion_py_spark

    if not os.path.abspath(data_ingestion_py_spark.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"data_ingestion_py_spark not found under {ROOT}")
    from perfbench import trace as trace_mod
    from perfbench.workloads import WORKLOADS, Recorder

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "artifacts", f"c{cores}")
    for d in ("tmp", "events"):
        os.makedirs(os.path.join(work, d))
    # Spark, the JVM and Python keep their scratch files inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )

    spark = None
    try:
        spark, get_spark_s = start_spark(
            cores, work, os.path.join(work, "events") if args.trace else None
        )
        spark.range(1000).selectExpr("sum(id)").collect()
        setup_s = _boottime() - t_start
        t_gen = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        gen_s = time.perf_counter() - t_gen
        t_warm = time.perf_counter()
        warm_rec = Recorder()
        wl.warm(warm_rec)
        warm_s = time.perf_counter() - t_warm
        tracer = trace_mod.Tracer(spark.sparkContext).install() if args.trace else None
        rec = Recorder(tracer)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds:
            if not wl.step(rec):
                break
        wall_s = time.perf_counter() - t0
        rec.attempted += warm_rec.attempted  # warm-up operations count too
        rec.failed += warm_rec.failed
        rss_mb, rss_by_process = peak_rss_mb()
        if tracer:
            tracer.uninstall()
        t_check = time.perf_counter()
        quality = wl.check(rec)
        check_s = time.perf_counter() - t_check
        probes = wl.layer_probes() if args.trace and hasattr(wl, "layer_probes") else {}
        storage = storage_memory_bytes(spark)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        events = os.path.join(work, "events")
        groups = trace_mod.read_event_log(events) if args.trace and os.path.isdir(events) else {}
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop

    e2e = e2e_metrics(rec, setup_s, rss_mb, quality)
    sizes = wl.sizes()
    from data_ingestion_py_spark.sources import pdf as pdf_src

    artifact = {
        "stamp": {
            "git_sha": git_sha(),
            "source_sha256": source_digest(),
            "nproc": cores,
            "spark_master": f"local[{cores}]",
            "spark_driver_memory": DRIVER_MEMORY,
            "jit_compiler_threads": JIT_COMPILER_THREADS,
            "spark_storage_memory_bytes": storage,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "pdf_extractor": "fitz" if pdf_src.HAVE_FITZ else "pdf_pure",
            "python": sys.version.split()[0],
        },
        "workload": args.workload,
        "input_sizes": sizes,
        "working_set_over_storage": {
            k: v / storage for k, v in sizes.items() if k.endswith("bytes") and storage
        },
        "peak_rss_mb_by_process": rss_by_process,
        "phases_s": {"setup": setup_s, "generate": gen_s, "warm": warm_s, "measured": wall_s,
                     "check": check_s, "stop": stop_s},
        "tail_percentile": TAIL_Q,
        "samples": rec.samples,
        "items": rec.items,
        "item_unit": wl.item_unit,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "ops_failed_frac": rec.failed / max(rec.attempted, 1),
        "quality": quality,
        "end_to_end": e2e,
    }
    if args.trace:
        layers, table = layer_metrics(tracer, groups, rec, probes, get_spark_s)
        artifact["per_layer"] = layers
        artifact["spans"] = table
        ref = previous_untraced(out_dir, args.workload, args.seed)
        artifact["tracing_overhead"] = (
            {k: e2e[k] - ref["end_to_end"][k] for k in e2e}
            if ref else "no untraced artifact for this workload, core count and seed yet"
        )
        printed = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        printed = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "e2e"
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-{kind}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    correct = rec.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": printed,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
