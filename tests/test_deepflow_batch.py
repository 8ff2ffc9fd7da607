"""``deepflow_batch`` — the deepflow ``foreachBatch`` body — pinned.

The body is driven directly with hand-built flow batches (the
``flow_projection`` shape) over a store seeded with another writer's
node, and compared after every batch with a pandas fold of the same
batches: last-write-wins edges, create-only ``created_at``, the
Microservice-only TTL, degree columns on the own label only, and the
other writer's columns passed through. A crash between the edges and
the nodes write must replay to the uninterrupted state, and one warm
batch has a Spark-job budget and must release what it persists.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import types as T

from etl_neptune_spark.streaming import GraphStore
from etl_neptune_spark.streaming.pipeline import ERROR_THRESHOLD, deepflow_batch

FLOW_SCHEMA = "src bigint, dst bigint, protocol string, value double, ts timestamp"
T0 = dt.datetime(2024, 1, 1)
# (src, dst, protocol, value, day, hour) per batch. Service 4 is seen
# only in the first batch (day 0) and passes the 30-day TTL at the
# third (horizon day 41); service 3 is seen again at day 20 and stays.
BATCHES = [
    [
        (1, 2, "http", 120.0, 0, 1),
        (1, 2, "http", 300.0, 1, 2),
        (2, 3, "grpc", 80.0, 1, 3),
        (4, 1, "http", 260.0, 0, 4),
        (1, 3, "grpc", 10.5, 2, 5),
    ],
    [
        (1, 2, "http", 50.0, 20, 1),
        (2, 5, "http", 400.0, 21, 2),
        (2, 3, "http", 75.25, 20, 3),
    ],
    [
        (5, 1, "grpc", 90.0, 40, 1),
        (1, 2, "http", 250.0, 41, 2),
        (2, 5, "http", 12.0, 40, 3),
    ],
]
# Another writer's nodes: a foreign label whose name equals service 2,
# and service 1 already present with a health status.
SEED_NODES = [
    ("EC2Instance", "2", T0 - dt.timedelta(days=100), T0 - dt.timedelta(days=100), "degraded"),
    ("Microservice", "1", T0 - dt.timedelta(days=5), T0 - dt.timedelta(days=5), "healthy"),
]
SEED_SCHEMA = (
    "label string, name string, last_seen timestamp, created_at timestamp, "
    "health_status string"
)
NODE_SCHEMA = [
    ("name", T.StringType()),
    ("label", T.StringType()),
    ("last_seen", T.TimestampType()),
    ("created_at", T.TimestampType()),
    ("health_status", T.StringType()),
    ("out_degree", T.LongType()),
    ("in_degree", T.LongType()),
    ("out_weight", T.LongType()),
    ("is_entry_point", T.BooleanType()),
]
EDGE_SCHEMA = [
    ("src", T.LongType()),
    ("dst", T.LongType()),
    ("protocol", T.StringType()),
    ("calls", T.LongType()),
    ("avg_duration_ms", T.DoubleType()),
    ("error_count", T.LongType()),
    ("last_seen", T.TimestampType()),
    ("active", T.BooleanType()),
]


def _rows(batch):
    return [
        (s, d, p, v, T0 + dt.timedelta(days=day, hours=h)) for s, d, p, v, day, h in batch
    ]


def _batch(spark, batch):
    return spark.createDataFrame(_rows(batch), FLOW_SCHEMA)


def _seeded_store(spark, root) -> GraphStore:
    store = GraphStore(str(root))
    store.write(spark.createDataFrame(SEED_NODES, SEED_SCHEMA), "nodes", 0)
    return store


def _fold(batches):
    """The store after ``batches``, recomputed in pandas."""
    edges: dict = {}
    nodes = {
        (label, name): {"last_seen": seen, "created_at": created, "health_status": health}
        for label, name, seen, created, health in SEED_NODES
    }
    for batch in batches:
        df = pd.DataFrame(_rows(batch), columns=["src", "dst", "protocol", "value", "ts"])
        for key, g in df.groupby(["src", "dst", "protocol"]):
            edges[key] = {
                "calls": len(g),
                "avg_duration_ms": round(g["value"].mean(), 4),
                "error_count": int((g["value"] >= ERROR_THRESHOLD).sum()),
                "last_seen": g["ts"].max().to_pydatetime(),
                "active": True,
            }
        ends = pd.concat(
            [df[["src", "ts"]].set_axis(["name", "ts"], axis=1),
             df[["dst", "ts"]].set_axis(["name", "ts"], axis=1)]
        )
        for name, ts in ends.groupby("name")["ts"].max().items():
            node = nodes.setdefault(
                ("Microservice", str(name)),
                {"created_at": ts.to_pydatetime(), "health_status": None},
            )
            node["last_seen"] = ts.to_pydatetime()
        cutoff = df["ts"].max().to_pydatetime() - dt.timedelta(days=30)
        nodes = {
            k: v for k, v in nodes.items()
            if k[0] != "Microservice" or v["last_seen"] >= cutoff
        }
    e = pd.DataFrame([(s, d, c["calls"]) for (s, d, _), c in edges.items()],
                     columns=["src", "dst", "calls"])
    out_deg = e.groupby("src").size()
    in_deg = e.groupby("dst").size()
    weight = e.groupby("src")["calls"].sum()
    want_nodes = {}
    for (label, name), v in nodes.items():
        if label == "Microservice":
            k = int(name)
            deg = (int(out_deg.get(k, 0)), int(in_deg.get(k, 0)),
                   int(weight.get(k, 0)), k not in in_deg.index)
        else:
            deg = (None, None, None, None)
        want_nodes[(label, name)] = (v["last_seen"], v["created_at"], v["health_status"], *deg)
    want_edges = {k: tuple(v.values()) for k, v in edges.items()}
    return want_nodes, want_edges


def _state(spark, store):
    nodes = store.read(spark, "nodes")
    edges = store.read(spark, "edges")
    assert [(f.name, f.dataType) for f in nodes.schema] == NODE_SCHEMA
    assert [(f.name, f.dataType) for f in edges.schema] == EDGE_SCHEMA
    got_nodes = {(r.label, r.name): tuple(r)[2:] for r in nodes.collect()}
    got_edges = {tuple(r)[:3]: tuple(r)[3:] for r in edges.collect()}
    return got_nodes, got_edges


def test_batches_match_pandas_fold(spark, tmp_path):
    store = _seeded_store(spark, tmp_path / "store")
    apply = deepflow_batch(store)
    for i, batch in enumerate(BATCHES, 1):
        apply(_batch(spark, batch), i)
        assert store.latest_version("nodes") == store.latest_version("edges") == i
        got_nodes, got_edges = _state(spark, store)
        want_nodes, want_edges = _fold(BATCHES[:i])
        assert got_edges == want_edges
        assert got_nodes == want_nodes

    # the foreign row: untouched, NULL degree columns, never GC'd
    assert got_nodes[("EC2Instance", "2")] == (
        SEED_NODES[0][2], SEED_NODES[0][3], "degraded", None, None, None, None
    )
    # the seeded service kept its create-only stamp and its health
    ms1 = got_nodes[("Microservice", "1")]
    assert ms1[1] == SEED_NODES[1][3] and ms1[2] == "healthy"
    # service 4 passed the TTL; its edge stays (edges are never GC'd)
    assert ("Microservice", "4") not in got_nodes
    assert (4, 1, "http") in got_edges


def test_empty_batch_writes_nothing(spark, tmp_path):
    store = _seeded_store(spark, tmp_path / "store")
    deepflow_batch(store)(spark.createDataFrame([], FLOW_SCHEMA), 1)
    assert store.latest_version("nodes") == 0
    assert store.latest_version("edges") is None


def test_replay_after_crash_between_edge_and_node_writes(spark, tmp_path):
    clean = _seeded_store(spark, tmp_path / "clean")
    apply = deepflow_batch(clean)
    for i, batch in enumerate(BATCHES, 1):
        apply(_batch(spark, batch), i)

    store = _seeded_store(spark, tmp_path / "crash")
    write = store.write
    crashed = []

    def write_failing_once(df, table, version, **kw):
        if table == "nodes" and version == 2 and not crashed:
            crashed.append(version)
            raise RuntimeError("killed before the nodes write")
        return write(df, table, version, **kw)

    store.write = write_failing_once
    apply = deepflow_batch(store)
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    for i, batch in enumerate(BATCHES, 1):
        try:
            apply(_batch(spark, batch), i)
        except RuntimeError:
            assert store.latest_version("edges") == i
            assert store.latest_version("nodes") == i - 1
            assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted
            apply(_batch(spark, batch), i)  # the replayed batch
    assert crashed == [2]
    assert _state(spark, store) == _state(spark, clean)


def test_warm_batch_job_budget_and_release(spark, tmp_path):
    """One micro-batch, read from a flow file like the stream's, applied
    to a warm store: at most 14 Spark jobs, and no persisted RDD left
    behind. Budget history: the traced deepflow-stream bench measured
    23 jobs per batch before the body computed each stage once (the
    batch scanned 7 times, the edge MERGE run 3 times and the node
    MERGE twice, one schema-inference job per store read)."""
    store = _seeded_store(spark, tmp_path / "store")
    apply = deepflow_batch(store)
    for i, batch in enumerate(BATCHES[:2], 1):
        apply(_batch(spark, batch), i)
    path = str(tmp_path / "flow")
    _batch(spark, BATCHES[2]).coalesce(1).write.parquet(path)
    batch = spark.read.schema(FLOW_SCHEMA).parquet(path)

    sc = spark.sparkContext
    persisted = len(sc._jsc.getPersistentRDDs())
    sc.setJobGroup("deepflow-warm-batch", "one warm deepflow batch")
    try:
        apply(batch, 3)
        jobs = sc.statusTracker().getJobIdsForGroup("deepflow-warm-batch")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 14, len(jobs)
    assert len(sc._jsc.getPersistentRDDs()) == persisted
