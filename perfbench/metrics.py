"""End-to-end and per-layer metrics from one run's records.

End-to-end metrics come from the untraced run's own clocks. Per-layer
metrics come from the traced run: the span recorder, the Spark event
log and ``StreamingQueryProgress``. Per-layer times and counts are per
timed operation (micro-batch or cycle) unless the name says otherwise,
so runs that fit a different number of operations stay comparable.
"""

from __future__ import annotations

import json
import os

import gen
from spans import jobs_in, median, spark_metrics, tail


def _m(value: float, unit: str, **extra) -> dict:
    return {"value": float(value), "unit": unit, **extra}


def end_to_end(wl, setup_s: float, rss_mb: float) -> dict:
    lat = wl.latencies()
    if not lat:
        raise RuntimeError("no timed operation completed")
    return {
        "setup_s": _m(setup_s, "s"),
        "peak_rss_mb": _m(rss_mb, "MB"),
        "op_p50_s": _m(median(lat), "s", samples=len(lat)),
    }


def rows_per_s(wl) -> dict:
    """Generated input rows consumed per second of operation time. Rows
    per operation are fixed, so this is the mean operation time's
    reciprocal, scaled: reported beside ``op_p50_s``, not gated."""
    timed = [o for o in wl.ops if o["kind"] != "warmup"]
    return _m(sum(o["rows"] for o in timed) / sum(o["s"] for o in timed), "1/s")


def op_tail(wl) -> dict:
    """The tail of the operation latencies, with its percentile and
    sample count (see ``spans.tail``)."""
    value, pct, n = tail(wl.latencies())
    return _m(value, "s", percentile=pct, samples=n)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's side files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _span_jobs(tracer, log: dict, names: set[str], lo: float, hi: float) -> int:
    """Jobs submitted while a span named in ``names`` was open."""
    ivs = [(s["start"], s["end"]) for s in tracer.spans
           if s["name"] in names and lo <= s["start"] <= hi]
    return sum(1 for j in jobs_in(log, lo, hi) if any(a <= j["submit"] <= b for a, b in ivs))


def _executions(tracer, log: dict, name: str, lo: float, hi: float) -> list[dict]:
    ivs = [(s["start"], s["end"]) for s in tracer.spans if s["name"] == name and lo <= s["start"] <= hi]
    return [e for e in log["executions"] if any(a <= e["time"] <= b for a, b in ivs)]


def per_layer(wl, tracer, log: dict, lo: float, hi: float, cores: int,
              session: dict, e2e: dict) -> dict:
    ops = max(1, len([o for o in wl.ops if o["kind"] != "warmup"]))

    def per_op(name: str) -> float:
        return tracer.total(name, lo, hi)[0] / ops

    def mean_span(name: str) -> tuple[float, int]:
        tot, n = tracer.total(name, lo, hi)
        return (tot / n if n else 0.0), n

    out: dict[str, dict] = {}
    # streaming.store
    reads_s, n_reads = tracer.total("store.read", lo, hi)
    writes_s, n_writes = tracer.total("store.write", lo, hi)
    bytes_written = tracer.counted("store.bytes_written", lo, hi)
    in_bytes = wl.input_bytes()
    store = getattr(wl, "store", None)
    bytes_end = dir_stats(store.root)[1] if store is not None else 0
    out.update({
        "store.reads": _m(n_reads / ops, "count"),
        "store.writes": _m(n_writes / ops, "count"),
        "store.read_s": _m(reads_s / ops, "s"),
        "store.write_s": _m(writes_s / ops, "s"),
        "store.files_written": _m(tracer.counted("store.files_written", lo, hi) / ops, "count"),
        "store.write_amplification": _m(bytes_written / in_bytes if in_bytes else 0.0, "ratio"),
        "store.bytes_end": _m(bytes_end, "B"),
    })
    # streaming.pipeline
    prog = [p for p in getattr(wl, "progress", []) if p["kind"] == "batch"]

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in prog) / 1000.0 / max(1, len(prog))

    trig_jobs = _span_jobs(tracer, log, {"trigger"}, lo, hi)
    rows = gen.FLOW["rows_per_file"]
    out.update({
        "streaming.add_batch_s": _m(dur("addBatch"), "s"),
        "streaming.wal_commit_s": _m(dur("walCommit"), "s"),
        "streaming.commit_offsets_s": _m(dur("commitOffsets"), "s"),
        "streaming.latest_offset_s": _m(dur("latestOffset"), "s"),
        "streaming.query_planning_s": _m(dur("queryPlanning"), "s"),
        "streaming.jobs_per_batch": _m(trig_jobs / len(prog) if prog else 0.0, "count"),
        "streaming.scan_amplification": _m(
            sum(p["numInputRows"] for p in prog) / (rows * len(prog)) if prog else 0.0, "ratio"),
    })
    # operators: plan building for merge/degrees/gc, whole calls for the rest
    out.update({
        "merge.build_s": _m(per_op("merge.build"), "s"),
        "degrees.build_s": _m(per_op("degrees.build"), "s"),
        "gc.build_s": _m(per_op("gc.build"), "s"),
        "components.s": _m(per_op("components"), "s"),
        "components.jobs": _m(_span_jobs(tracer, log, {"components"}, lo, hi) / ops, "count"),
        "dedup.s": _m(per_op("dedup"), "s"),
        "dedup.jobs": _m(_span_jobs(tracer, log, {"dedup"}, lo, hi) / ops, "count"),
        "similarity.s": _m(per_op("similarity"), "s"),
        "text.s": _m(per_op("text"), "s"),
        "packing.s": _m(per_op("packing"), "s"),
    })
    # pipelines: per pipeline run
    aws_s, n_aws = mean_span("pipelines.aws")
    cfn_s, _ = mean_span("pipelines.cfn")
    corpus_s, n_corpus = mean_span("pipelines.corpus")
    doc_scans = sum(
        sum("documents.parquet" in p for p in e["scans"])
        for e in _executions(tracer, log, "pipelines.corpus", lo, hi)
    )
    out.update({
        "pipelines.aws_s": _m(aws_s, "s"),
        "pipelines.aws_jobs": _m(_span_jobs(tracer, log, {"pipelines.aws"}, lo, hi) / max(1, n_aws), "count"),
        "pipelines.cfn_s": _m(cfn_s, "s"),
        "pipelines.corpus_s": _m(corpus_s, "s"),
        "pipelines.corpus_jobs": _m(
            _span_jobs(tracer, log, {"pipelines.corpus"}, lo, hi) / max(1, n_corpus), "count"),
        "pipelines.corpus_doc_scans": _m(doc_scans / max(1, n_corpus), "count"),
    })
    # plans: per registry query
    build_s, n_q = tracer.total("plans.build", lo, hi)
    exec_s, _ = tracer.total("plans.exec", lo, hi)
    exchanges = sum(e["exchanges"] for e in _executions(tracer, log, "plans.query", lo, hi))
    nq = max(1, n_q)
    out.update({
        "plans.build_s": _m(build_s / nq, "s"),
        "plans.build_jobs": _m(_span_jobs(tracer, log, {"plans.build"}, lo, hi) / nq, "count"),
        "plans.exec_s": _m(exec_s / nq, "s"),
        "plans.exchanges": _m(exchanges / nq, "count"),
    })
    # sources
    out.update({
        "sources.load_table_s": _m(per_op("sources.load_table"), "s"),
        "sources.driver_actions": _m(
            _span_jobs(tracer, log, {"sources.load_table", "sources.anchor"}, lo, hi) / ops, "count"),
    })
    # spark engine, per operation except the ratio
    sm = spark_metrics(log, lo, hi, cores)
    for k, v in sm.items():
        unit = "ratio" if k == "spark.core_busy_ratio" else (
            "s" if k.endswith("_s") else "B" if k.endswith("_bytes") else "count")
        out[k] = _m(v if k == "spark.core_busy_ratio" else v / ops, unit)
    # session
    out.update({
        "session.start_s": _m(session["session.start_s"], "s"),
        "session.warmup_s": _m(session["session.warmup_s"], "s"),
        "session.persisted_rdds_end": _m(session["session.persisted_rdds_end"], "count"),
        "trace.op_p50_s": _m(e2e["op_p50_s"]["value"], "s"),
        "op_tail_s": op_tail(wl),
    })
    return out


def _result_path(work_root: str, workload: str, seed: int) -> str:
    return os.path.join(work_root, "results", f"{workload}-s{seed}-untraced.json")


def save_untraced(work_root: str, workload: str, seed: int, e2e: dict) -> None:
    path = _result_path(work_root, workload, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(e2e, f)


def trace_overhead(work_root: str, workload: str, seed: int, layer: dict) -> float | None:
    """Traced op p50 over the untraced run's, minus one, when an untraced
    run of the same workload and seed left its result here."""
    path = _result_path(work_root, workload, seed)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["op_p50_s"]["value"]
    return layer["trace.op_p50_s"]["value"] / base - 1.0
