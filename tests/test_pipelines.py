"""Golden end-to-end pipeline tests — SURVEY §5.2.

The aws (§3.2) and cfn (§3.3) pipelines composed from certified
operators, run on sf0.001, asserting snapshot outputs AND the
idempotency property the reference gets from mergeV (run twice ⇒
identical state).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_neptune_spark.pipelines import run_aws_snapshot_etl, run_cfn_etl
from etl_neptune_spark.pipelines import corpus
from etl_neptune_spark.sources import load_table
from etl_neptune_spark.streaming import GraphStore


def _snapshot(spark, store, table):
    df = store.read(spark, table)
    return sorted(map(tuple, df.collect()))


def _aws_counts_in_store(spark, store):
    """The aws stats recounted from what the store now holds."""
    nodes = store.read(spark, "nodes")
    return {
        "nodes": nodes.count(),
        "edges": store.read(spark, "infra_edges").count(),
        "degraded": nodes.filter(F.col("health_status") == "degraded").count(),
        "with_metrics": nodes.filter(F.col("order_count").isNotNull()).count(),
    }


def test_aws_pipeline_golden(spark, sf_dir, tmp_path):
    store = GraphStore(str(tmp_path / "store"))
    stats = run_aws_snapshot_etl(spark, sf_dir, store, version=0)

    region = load_table(spark, sf_dir, "region").count()
    nation = load_table(spark, sf_dir, "nation").count()
    customer = load_table(spark, sf_dir, "customer").count()
    supplier = load_table(spark, sf_dir, "supplier").count()

    # one node per live entity, one LocatedIn per customer + one
    # Contains per nation
    assert stats == _aws_counts_in_store(spark, store)
    assert stats["nodes"] == region + nation + customer + supplier
    assert stats["edges"] == nation + customer
    assert 0 < stats["with_metrics"] <= customer
    assert 0 <= stats["degraded"] <= customer

    nodes = store.read(spark, "nodes")
    by_label = {r["label"]: r["n"] for r in nodes.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert by_label == {
        "Region": region,
        "AvailabilityZone": nation,
        "EC2Instance": customer,
        "Microservice": supplier,
    }
    # enrichment: explicit tier only on custkey%3==0 entities; others 'unknown'
    ec2 = nodes.filter(F.col("label") == "EC2Instance")
    assert ec2.filter(F.col("tier").isNull()).count() == 0
    # non-resource nodes never get resource metrics (None-preserve shape)
    assert (
        nodes.filter((F.col("label") == "Region") & F.col("order_count").isNotNull()).count()
        == 0
    )


def test_aws_pipeline_idempotent(spark, sf_dir, tmp_path):
    store = GraphStore(str(tmp_path / "store"))
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    first = _snapshot(spark, store, "nodes")
    run_aws_snapshot_etl(spark, sf_dir, store, version=1)
    assert _snapshot(spark, store, "nodes") == first


def test_aws_pipeline_gc_drops_ghosts(spark, sf_dir, tmp_path):
    """Seed the store with a node absent from the live snapshot — the
    run must GC it (etl_aws ghost-node semantics)."""
    store = GraphStore(str(tmp_path / "store"))
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    nodes = store.read(spark, "nodes")
    ghost = spark.createDataFrame(
        [("EC2Instance", "ghost-node-not-in-aws")], "label string, name string"
    )
    polluted = nodes.unionByName(ghost, allowMissingColumns=True)
    store.write(polluted, "nodes", 1)

    stats = run_aws_snapshot_etl(spark, sf_dir, store, version=2)
    assert stats == _aws_counts_in_store(spark, store)
    assert (
        store.read(spark, "nodes")
        .filter(F.col("name") == "ghost-node-not-in-aws")
        .count()
        == 0
    )


def test_cfn_pipeline_extracts_and_merges(spark, tmp_path):
    tpl = {
        "Resources": {
            "Fn": {
                "Type": "AWS::Lambda::Function",
                "Properties": {
                    "Environment": {"Variables": {"TABLE": {"Ref": "OrdersTable"}}},
                    "Role": {"RoleArn": "arn:aws:iam::1:role/r"},
                },
            },
            "Q": {"Type": "AWS::SQS::Queue", "DependsOn": {"Ref": "Fn"}},
        }
    }
    templates = spark.createDataFrame(
        [("stack-a", json.dumps(tpl))], "stack_name string, template string"
    )
    dims = spark.createDataFrame(
        [
            ("OrdersTable", "orders-ddb", "DynamoDBTable"),
            ("Fn", "fn-physical", "LambdaFunction"),
        ],
        "logical_id string, physical_id string, target_label string",
    )
    store = GraphStore(str(tmp_path / "store"))
    n = run_cfn_etl(spark, templates, dims, store, version=0)
    edges = {tuple(r) for r in store.read(spark, "cfn_edges").collect()}
    assert n == 2
    assert n == store.read(spark, "cfn_edges").count()
    assert ("stack-a", "orders-ddb", "DependsOn", "declared_in:stack-a") in edges
    assert ("stack-a", "fn-physical", "DependsOn", "declared_in:stack-a") in edges
    # 'arn:...' is a RoleArn string ref but resolves to no logical id ⇒ dropped
    assert not any(e[1].startswith("arn:") for e in edges)

    # idempotent re-run; a new stack adds its edges to the stored ones
    assert run_cfn_etl(spark, templates, dims, store, version=1) == 2
    more = templates.union(
        spark.createDataFrame([("stack-b", json.dumps(tpl))], templates.schema)
    )
    n = run_cfn_etl(spark, more, dims, store, version=2)
    assert n == 4 == store.read(spark, "cfn_edges").count()


def test_multi_writer_convergence_st6(spark, sf_dir, tmp_path):
    """ST6: the aws batch pipeline and the deepflow stream share one
    keyed store at different cadences; each writer touches only its own
    column namespace and GCs only its own labels."""
    from etl_neptune_spark.streaming import run_deepflow_stream
    from etl_neptune_spark.sources import load_table as lt

    store = GraphStore(str(tmp_path / "store"))

    # cadence 1: aws snapshot
    run_aws_snapshot_etl(spark, sf_dir, store, version=0)
    ec2_before = {
        r.name: (r.tier, r.health_status)
        for r in store.read(spark, "nodes").filter(F.col("label") == "EC2Instance").collect()
    }
    assert ec2_before

    # cadence 2: deepflow stream drains into the same store
    src = str(tmp_path / "in")
    lt(spark, sf_dir, "events").coalesce(1).write.parquet(src)
    run_deepflow_stream(spark, src, store)

    nodes = store.read(spark, "nodes")
    # deepflow added its Microservice nodes with degree metrics...
    ms = nodes.filter((F.col("label") == "Microservice") & F.col("last_seen").isNotNull())
    assert ms.count() > 0
    assert ms.filter(F.col("out_degree").isNull()).count() == 0
    # ...and did NOT clobber or GC the aws nodes / namespaces
    ec2_after = {
        r.name: (r.tier, r.health_status)
        for r in nodes.filter(F.col("label") == "EC2Instance").collect()
    }
    assert ec2_after == ec2_before

    # cadence 3: aws runs again — deepflow's columns survive untouched
    run_aws_snapshot_etl(spark, sf_dir, store, version=99)
    nodes2 = store.read(spark, "nodes")
    ms2 = {
        r.name: r.last_seen
        for r in nodes2.filter(
            (F.col("label") == "Microservice") & F.col("last_seen").isNotNull()
        ).collect()
    }
    ms1 = {r.name: r.last_seen for r in ms.collect()}
    for name, seen in ms1.items():
        assert ms2[name] == seen


def _sequential_corpus(spark, sf_dir, eval_docs=None, min_quality=0.3, capacity=512):
    """The corpus pipeline as a plain sequential chain: every stage a
    filter over the previous stage's frame, every stat its own
    ``count()``. Slow (each count re-runs the chain) but obviously
    right, so it is the reference the staged pipeline must match."""
    from etl_neptune_spark.operators.components import connected_components
    from etl_neptune_spark.operators.dedup import minhash_lsh_pairs
    from etl_neptune_spark.operators.packing import assign_split, pack_sequences
    from etl_neptune_spark.operators.text import (
        decontaminate, lang_id, quality_score, repetition_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stats = {"raw": docs.count()}
    rep = repetition_features(docs).select("doc_id", "keep")
    gated = (
        docs.join(rep, "doc_id")
        .withColumn("lang", lang_id(F.col("text")))
        .withColumn("q", quality_score(F.col("text")))
        .filter(F.col("keep") & (F.col("lang") == "en") & (F.col("q") >= min_quality))
        .select("doc_id", "text")
    )
    stats["after_quality"] = gated.count()
    if eval_docs is None:
        eval_docs = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    hits = decontaminate(gated, eval_docs, n=3).select("doc_id")
    clean = gated.join(hits, "doc_id", "left_anti")
    stats["after_decontamination"] = clean.count()
    exact = (
        clean.withColumn("content_hash", F.md5(F.col("text")))
        .withColumn("keep_id", F.min("doc_id").over(Window.partitionBy("content_hash")))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "text")
    )
    stats["after_exact_dedup"] = exact.count()
    comps = connected_components(minhash_lsh_pairs(exact), src="id_a", dst="id_b")
    losers = comps.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    survivors = exact.join(losers, "doc_id", "left_anti")
    stats["after_near_dedup"] = survivors.count()
    train = assign_split(survivors).filter(F.col("split") == "train").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    stats["train_docs"] = train.count()
    packed = pack_sequences(train, token_col="n_tokens", capacity=capacity)
    stats["packed_sequences"] = packed.select("seq_id").distinct().count()
    return sorted(map(tuple, packed.collect())), stats


def test_corpus_pipeline_stages_and_determinism(spark, sf_dir):
    """End-to-end corpus assembly: all seven stats and the packed rows
    equal the sequential reference chain, per-stage counts are monotone
    non-increasing through the gates, survivors are unique by content,
    packing covers every train doc exactly once, and a re-run is
    byte-identical (seedless determinism)."""
    from etl_neptune_spark.pipelines.corpus import run_corpus_pipeline

    want_rows, want_stats = _sequential_corpus(spark, sf_dir)
    packed, stats = run_corpus_pipeline(spark, sf_dir)
    rows = packed.collect()
    assert stats == want_stats
    assert sorted(map(tuple, rows)) == want_rows
    order = ["raw", "after_quality", "after_decontamination",
             "after_exact_dedup", "after_near_dedup", "train_docs"]
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True), stats
    assert stats["raw"] > 0 and stats["train_docs"] > 0
    assert stats["packed_sequences"] >= 1

    assert len(rows) == stats["train_docs"]  # one row per train doc
    assert len({r.doc_id for r in rows}) == len(rows)
    assert all(r.seq_id >= 0 and r.n_tokens > 0 for r in rows)

    packed2, stats2 = run_corpus_pipeline(spark, sf_dir)
    assert stats2 == stats
    assert sorted(map(tuple, packed2.collect())) == sorted(map(tuple, rows))


def test_corpus_pipeline_matches_reference_off_defaults(spark, sf_dir):
    """The stats and packed rows also match the sequential reference
    with a caller-supplied eval set and a stricter quality bar."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 13 == 0)
    kw = {"eval_docs": eval_docs, "min_quality": 0.5, "capacity": 256}
    want_rows, want_stats = _sequential_corpus(spark, sf_dir, **kw)
    packed, stats = corpus.run_corpus_pipeline(spark, sf_dir, **kw)
    assert stats == want_stats
    assert sorted(map(tuple, packed.collect())) == want_rows
    default_stats = _sequential_corpus(spark, sf_dir)[1]
    assert stats["after_quality"] < default_stats["after_quality"]


def test_corpus_pipeline_releases_its_frames(spark, sf_dir, monkeypatch):
    """Session hygiene: two runs (each collecting its packed output)
    leave the same number of persisted RDDs, and every frame the
    pipeline module itself persists is released before it returns.
    Operators' own caches (MinHash's shingle frames) are theirs to own
    and are reused across runs."""
    cls = type(spark.range(1))
    persist = cls.persist
    owned = []

    def tracking_persist(self, *args, **kwargs):
        if sys._getframe(1).f_globals.get("__name__") == corpus.__name__:
            owned.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", tracking_persist)
    counts = []
    for _ in range(2):
        packed, _ = corpus.run_corpus_pipeline(spark, sf_dir)
        packed.collect()
        counts.append(len(spark.sparkContext._jsc.getPersistentRDDs()))
    assert counts[1] == counts[0]
    assert owned, "the pipeline materializes its stage frames"
    for df in owned:
        level = df.storageLevel
        assert not (level.useMemory or level.useDisk), level
