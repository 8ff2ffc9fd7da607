"""The benchmark workloads.

Each workload is a class with ``generate`` (seeded inputs, written
before the session starts), ``warmup`` (untimed, part of ``setup_s``),
``measure`` (the timed window) and ``check`` (untimed output checks).
``measure`` appends one record per operation to ``self.ops``:
``{"kind", "start", "end", "s", "ok"}`` with epoch-second stamps.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import checks
import gen


def _op(ops: list, kind: str, start: float, ok: bool = True, **extra) -> dict:
    end = time.time()
    rec = {"kind": kind, "start": start, "end": end, "s": end - start, "ok": ok, **extra}
    ops.append(rec)
    return rec


def _failed(ops: list, kind: str, start: float) -> None:
    """Record an operation that raised; the caller stops measuring."""
    traceback.print_exc(file=sys.stderr)
    _op(ops, kind, start, ok=False, rows=0)


class DeepflowStream:
    """Flow files drained one per trigger through ``run_deepflow_stream``
    into a fresh ``GraphStore``: one streaming query, one client that
    feeds the next file once the previous one is committed."""

    name = "deepflow-stream"
    WARM_FILES = 8

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops: list[dict] = []
        self.fed: list[str] = []
        self.progress: list[dict] = []
        self.query = None

    def generate(self) -> dict:
        w = self.ctx.work
        n = self.WARM_FILES + max(8, 4 * self.ctx.seconds)
        self.backlog = gen.write_flow_files(self.ctx.seed, n, os.path.join(w, "backlog"))
        self.events_dir = os.path.join(w, "events")
        os.makedirs(self.events_dir)
        return {"flow": dict(gen.FLOW), "files_staged": n}

    def _feed_one(self, kind: str) -> None:
        src = self.backlog[len(self.fed)]
        dst = os.path.join(self.events_dir, os.path.basename(src))
        os.replace(src, dst)
        self.fed.append(dst)
        t0 = time.time()
        with self.ctx.tracer.span("trigger"):
            self.query.processAllAvailable()
        rec = _op(self.ops, kind, t0)
        seen = {p["batchId"] for p in self.progress}
        for p in self.query.recentProgress:
            if p.numInputRows > 0 and p.batchId not in seen:
                self.progress.append({"batchId": p.batchId, "numInputRows": p.numInputRows,
                                      "durationMs": dict(p.durationMs), "kind": kind})
        rec["rows"] = gen.FLOW["rows_per_file"]

    def warmup(self) -> None:
        from etl_neptune_spark.streaming import run_deepflow_stream
        from etl_neptune_spark.streaming.store import GraphStore

        self.store = GraphStore(os.path.join(self.ctx.work, "store"))
        self.query = run_deepflow_stream(
            self.ctx.spark, self.events_dir, self.store,
            processing_time="0 seconds", max_files_per_trigger=1,
        )
        for _ in range(self.WARM_FILES):
            self._feed_one("warmup")

    def measure(self, seconds: float) -> None:
        t_end = time.time() + seconds
        while time.time() < t_end and len(self.fed) < len(self.backlog):
            t0 = time.time()
            try:
                self._feed_one("batch")
            except Exception:
                _failed(self.ops, "batch", t0)
                return

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def check(self) -> list[str]:
        self.stop()
        spark = self.ctx.spark
        nodes = self.store.read(spark, "nodes").toPandas()
        edges = self.store.read(spark, "edges").toPandas()
        return checks.compare_deepflow_store(nodes, edges, self.fed)

    def latencies(self) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.progress if p["kind"] == "batch"]

    def input_bytes(self) -> int:
        """Bytes of the flow files fed in the timed window."""
        return sum(os.path.getsize(p) for p, o in zip(self.fed, self.ops) if o["kind"] == "batch")


class BatchEtl:
    """A scheduled batch run over one store. The warm-up is the previous
    run's aws and cfn snapshot pipelines (snapshot 0), so the store holds
    state that the timed cycle updates and GC-deletes. A timed cycle runs
    aws → cfn on the next churned snapshot, then the corpus pipeline with
    its packed output collected, then three registry queries in seeded
    order, each built and collected (every column is materialized, and
    the collected rows are what the oracle check compares). The corpus
    pipeline and the queries run for the first time in the timed cycle,
    as they do in a freshly started batch application."""

    name = "batch-etl"
    SF = 0.001
    CAPACITY = 512  # run_corpus_pipeline's default packing capacity
    QUERIES = ["q_tpch_q1", "q_degrees", "q_ann_topk"]

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops: list[dict] = []
        self.outputs: list[tuple] = []
        self.query_results: list[tuple] = []
        self.snapshots: list[dict] = []
        self.cfn_cycles: list[tuple] = []
        self.parts: dict[str, list[float]] = {"snapshot": [], "corpus": [], "query": []}

    def generate(self) -> dict:
        w, seed = self.ctx.work, self.ctx.seed
        self.fx = os.path.join(w, "fixture")
        gen.write_fixture(seed, self.SF, self.fx)
        self.base = gen.fixture_tables(seed, self.SF)
        self.max_cycles = 2 + max(1, self.ctx.seconds // 10)
        for c in range(self.max_cycles):
            snap = gen.churned_snapshot(self.base, seed, c)
            d = os.path.join(w, f"snapshot-{c}")
            for name, t in snap.items():
                gen.write_table(t, os.path.join(d, f"{name}.parquet"))
            templates, physical = gen.cfn_inputs(snap, seed, c)
            gen.write_table(templates, os.path.join(d, "cfn_templates.parquet"))
            gen.write_table(physical, os.path.join(d, "cfn_physical_ids.parquet"))
            self.snapshots.append(snap)
            self.cfn_cycles.append((templates, physical))
        self.orders = gen.query_order(seed, self.QUERIES, self.max_cycles)
        return {"sf": self.SF, "churn": dict(gen.CHURN), "query_order": self.orders,
                "rows": {k: v.num_rows for k, v in self.base.items()}}

    def _snapshot_runs(self, c: int) -> tuple[dict, int]:
        from etl_neptune_spark.pipelines import run_aws_snapshot_etl, run_cfn_etl

        spark, tr = self.ctx.spark, self.ctx.tracer
        d = os.path.join(self.ctx.work, f"snapshot-{c}")
        with tr.span("pipelines.aws", job_group=True):
            aws = run_aws_snapshot_etl(spark, d, self.store, version=c)
        with tr.span("pipelines.cfn", job_group=True):
            templates = spark.read.parquet(os.path.join(d, "cfn_templates.parquet"))
            physical = spark.read.parquet(os.path.join(d, "cfn_physical_ids.parquet"))
            cfn = run_cfn_etl(spark, templates, physical, self.store, version=c)
        return aws, cfn

    def _cycle(self, c: int) -> None:
        from etl_neptune_spark.pipelines import run_corpus_pipeline

        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = time.time()
        aws, cfn = self._snapshot_runs(c)
        t1 = time.time()
        with tr.span("pipelines.corpus", job_group=True):
            packed, stats = run_corpus_pipeline(spark, self.fx, capacity=self.CAPACITY)
            rows = packed.collect()
        t2 = time.time()
        for q in self.orders[c]:
            tq = time.time()
            with tr.span("plans.query", job_group=True, query=q):
                with tr.span("plans.build"):
                    df = self.ctx.queries[q](spark, self.fx)
                with tr.span("plans.exec"):
                    got = df.toPandas()
            self.parts["query"].append(time.time() - tq)
            self.query_results.append((q, got))
        rec = _op(self.ops, "cycle", t0)
        self.parts["snapshot"].append(t1 - t0)
        self.parts["corpus"].append(t2 - t1)
        rec["rows"] = sum(t.num_rows for t in self.snapshots[c].values()) + self.base["documents"].num_rows
        self.outputs.append((c, aws, cfn, stats, rows))

    def warmup(self) -> None:
        from etl_neptune_spark.streaming.store import GraphStore

        self.store = GraphStore(os.path.join(self.ctx.work, "store"))
        self.warm_output = (0, *self._snapshot_runs(0))

    def measure(self, seconds: float) -> None:
        """Whole cycles; another starts only if it should end in time."""
        t_start = time.time()
        for c in range(1, self.max_cycles):
            t0 = time.time()
            try:
                self._cycle(c)
            except Exception:
                _failed(self.ops, "cycle", t0)
                return
            elapsed = time.time() - t_start
            if elapsed * (c + 1) / c > seconds:
                break

    def stop(self) -> None:
        pass

    def check(self) -> list[str]:
        """aws/cfn stats against an independent count of the churned
        snapshots, the corpus stats and packing against a recomputation
        from the fixture documents, and the collected query results against
        their DuckDB oracles. A failing cycle marks its operation failed; a failing
        query marks every cycle (each runs it)."""
        oracle, wants = [], {}
        for q, got in self.query_results:
            if q not in wants:
                wants[q] = checks.oracle_frame(self.fx, self.ctx.oracle[q])
            oracle += [f"{q}: {p}" for p in checks.compare_frames(got, wants[q])]
        problems = list(oracle)
        snaps = [(self.warm_output, None)] + list(zip(self.outputs, self.ops))
        for (c, aws, cfn, *corpus), op in snaps:
            bad = []
            want_aws = checks.expected_aws_stats(self.snapshots[: c + 1])
            if aws != want_aws:
                bad.append(f"cycle {c}: aws stats {aws} != independent count {want_aws}")
            want_cfn = checks.expected_cfn_edges(self.cfn_cycles[: c + 1])
            if cfn != want_cfn:
                bad.append(f"cycle {c}: cfn edges {cfn} != independent count {want_cfn}")
            if corpus:
                bad += [f"cycle {c}: {p}" for p in checks.check_corpus(
                    *corpus, self.base["documents"], self.CAPACITY)]
            if op is not None:
                op["ok"] = not bad and not oracle
            elif bad:
                for o in self.ops:
                    o["ok"] = False
            problems += bad
        return problems

    def latencies(self) -> list[float]:
        return [o["s"] for o in self.ops]

    def input_bytes(self) -> int:
        return 0


WORKLOADS = {w.name: w for w in (DeepflowStream, BatchEtl)}
