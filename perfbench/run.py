"""Benchmark entry point: one workload, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload deepflow-stream --seed 1 --seconds 25 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A human-readable summary, the host provenance and the
path of the written span tree go to standard error. Exits 1 when an
output check fails and 2 when the program under test is missing.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_sizing(work: str) -> dict:
    """Core count, driver heap, scratch dirs and worker import path.

    The heap is a quarter of physical memory (at most 16g), fixed from
    the start with a fixed young generation, so peak RSS follows what
    the program retains rather than the collector's adaptive sizing."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    heap_g = max(1, min(16, mem_kb // (1024 * 1024) // 4))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_g}g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
    })
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    no_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = no_tmp  # the JVM that assembles spark-submit's command
    java_opts = f"-Xms{heap_g}g -Xmn{heap_g * 1024 // 6}m {no_tmp}"
    return {"cores": cores, "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
            "driver_mem": f"{heap_g}g", "driver_java_options": java_opts}


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by the hypervisor between two
    ``cpu_times`` readings: a slow run on a shared host shows here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def provenance() -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "etl_neptune_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def start_session(java_opts: str, trace_dir: str | None):
    from etl_neptune_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", "spark.driver.extraJavaOptions": java_opts}
    if trace_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the peak read
    later leaves out the generator's tables."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_wrappers(tracer) -> None:
    """Span recorders around the layers' public entry points."""
    import etl_neptune_spark.operators.components as components
    import etl_neptune_spark.operators.dedup as dedup
    import etl_neptune_spark.operators.degrees as degrees
    import etl_neptune_spark.operators.gc as gc
    import etl_neptune_spark.operators.merge as merge
    import etl_neptune_spark.operators.packing as packing
    import etl_neptune_spark.operators.similarity as similarity
    import etl_neptune_spark.operators.text as text
    import etl_neptune_spark.sources.tables as tables
    from metrics import dir_stats

    targets = [
        (merge.merge_keyed, "merge.build"),
        (degrees.degree_metrics, "degrees.build"),
        (gc.gc_keep, "gc.build"),
        (tables.load_table, "sources.load_table"),
        (components.connected_components, "components"),
        (dedup.minhash_lsh_pairs, "dedup"),
        (similarity.brute_force_topk, "similarity"),
        (text.decontaminate, "text"),
        (text.repetition_features, "text"),
        (packing.pack_sequences, "packing"),
        (packing.assign_split, "packing"),
    ]
    for fn, name in targets:
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("etl_neptune_spark") and getattr(mod, fn.__name__, None) is fn:
                tracer.wrap(mod_name, fn.__name__, name)
    tracer.wrap("etl_neptune_spark.sources.tables", "_ts_anchor", "sources.anchor")
    tracer.wrap("etl_neptune_spark.streaming.store.GraphStore", "read", "store.read")

    def written(args, kwargs):
        store, table = args[0], args[2]
        version = args[3] if len(args) > 3 else kwargs["version"]
        files, size = dir_stats(os.path.join(store.root, table, f"v={version}"))
        tracer.count("store.files_written", files)
        tracer.count("store.bytes_written", size)

    tracer.wrap("etl_neptune_spark.streaming.store.GraphStore", "write", "store.write", after=written)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_neptune_spark", "__init__.py")):
        log(f"perfbench: the program (etl_neptune_spark/) is not under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import metrics
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sizing = host_sizing(work)
    load_start, cpu_start = os.getloadavg(), cpu_times()
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)

    ctx = types.SimpleNamespace(work=work, seed=args.seed, seconds=args.seconds,
                                cores=sizing["cores"], tracer=spans.Tracer(False))
    wl = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        t = time.perf_counter()
        gen_info = wl.generate()
        gen_s = time.perf_counter() - t

        reset_peak_rss()

        # Set-up: the session start launches the JVM; warm-up follows.
        t = time.perf_counter()
        spark = start_session(sizing["driver_java_options"], trace_dir)
        start_s = time.perf_counter() - t
        import __spark_entry__

        ctx.spark = spark
        ctx.queries = __spark_entry__.queries()
        ctx.oracle = __spark_entry__.oracle_sql()
        ctx.tracer = spans.Tracer(bool(args.trace), spark.sparkContext)
        install_wrappers(ctx.tracer)

        t = time.perf_counter()
        with ctx.tracer.span("warmup"):
            wl.warmup()
        warmup_s = time.perf_counter() - t

        t_lo = time.time()
        with ctx.tracer.span("timed"):
            wl.measure(args.seconds)
        t_hi = time.time()
        wl.stop()
        # Peak RSS of the session's JVM and of this process, read before
        # the checks load anything.
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_kb = _vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")

        problems = wl.check()
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
        app_id = spark.sparkContext.applicationId
    finally:
        ctx.tracer.unwrap_all()
        wl.stop()
        if spark is not None:
            spark.stop()
            stop_jvm()

    load_end, steal = os.getloadavg(), steal_share(cpu_start, cpu_times())
    timed = [o for o in wl.ops if o["kind"] != "warmup"]
    attempted = max(1, len(timed))
    failed = sum(not o["ok"] for o in timed)
    if problems and failed == 0:
        failed = attempted
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {**sizing, "load_start": load_start, "load_end": load_end,
                 "cpu_steal_share": steal, **provenance()},
        "generator": gen_info, "gen_s": gen_s, "session_start_s": start_s, "warmup_s": warmup_s,
        "problems": problems,
    }
    setup_s = start_s + warmup_s
    e2e = metrics.end_to_end(wl, setup_s, rss_kb / 1024.0)
    info["end_to_end"] = e2e
    info["op_tail"] = metrics.op_tail(wl)
    info["rows_per_s"] = metrics.rows_per_s(wl)
    info["ops_s"] = [(o["kind"], round(o["s"], 3)) for o in wl.ops]
    info["breakdown_p50_s"] = {k: metrics.median(v) for k, v in getattr(wl, "parts", {}).items() if v}
    if args.trace:
        with open(os.path.join(trace_dir, app_id)) as f:
            log_all = spans.parse_event_log(f)
        layer = metrics.per_layer(
            wl, ctx.tracer, log_all, t_lo, t_hi, ctx.cores,
            {"session.start_s": start_s, "session.warmup_s": warmup_s,
             "session.persisted_rdds_end": persisted},
            e2e,
        )
        spans.attribute_jobs(ctx.tracer.spans, log_all)
        tree = spans.span_report(ctx.tracer.spans, log_all)
        top = [s for s in tree if s["parent"] is not None and
               next(x for x in tree if x["id"] == s["parent"])["name"] == "timed"]
        covered = spans.union_length([(s["start"], s["end"]) for s in top], t_lo, t_hi)
        info["trace_coverage"] = covered / max(t_hi - t_lo, 1e-9)
        info["per_layer"] = layer
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tpath = os.path.join(WORK_ROOT, "traces", f"{args.workload}-s{args.seed}.json")
        with open(tpath, "w") as f:
            json.dump({"info": info, "spans": tree}, f, indent=1, default=str)
        log(f"span tree: {tpath} (covers {info['trace_coverage']:.1%} of the timed window)")
        overhead = metrics.trace_overhead(WORK_ROOT, args.workload, args.seed, layer)
        if overhead is not None:
            log(f"tracing overhead: traced op p50 is {overhead:+.1%} vs the untraced run")
        reported = layer
    else:
        metrics.save_untraced(WORK_ROOT, args.workload, args.seed, e2e)
        reported = e2e

    log(json.dumps(info, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in reported.items()}}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
