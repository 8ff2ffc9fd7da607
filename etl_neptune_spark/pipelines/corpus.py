"""End-to-end corpus-assembly pipeline: raw documents → training-ready
packed sequences, as one batch DAG.

No reference counterpart (the reference pipelines are infrastructure
ETL; this is the LLM-data analogue of their staged ``run_etl`` posture —
reference lambda/etl_aws/neptune_etl_aws.py:1393-2114 sequences steps
and accumulates per-step ``stats``; so does this). Every stage is an
individually-certified operator; this module only sequences them and
counts what each gate removes — the per-stage accounting a data-curation
run must publish.

Stages (the standard curation order — cheap gates first so expensive
stages see the smallest corpus):

1. **Quality gates**: language ID + quality score + Gopher-style
   repetition verdict (all native expressions, shuffle-free).
2. **Decontamination**: drop docs sharing a word 3-gram with the eval
   set (broadcast of the eval shingle set; the hits become a flag).
3. **Exact dedup**: first-arrival-wins on the content hash.
4. **Near-dup clustering**: MinHash band pairs → connected components →
   keep each cluster's minimum doc id.
5. **Split + packing**: md5-bucket train/val/test assignment, then
   concat-and-chunk packing of the train split.

Materialize once, release on exit. A lazy frame re-derives its whole
lineage on every action, so counting after each gate over chained
filters would re-run every earlier stage per count. Instead gates 1–3
are one per-document *verdict* frame (quality flag, decontamination
flag, exact-dedup survivor flag), persisted and filled by the single
aggregate that yields the first four stats; MinHash reads its input
from it. The split/token frame is persisted the same way and feeds
the near-dedup and train counts (one aggregate) and the packing.
Both frames are owned here: they are unpersisted before the function
returns, whether it returns or raises, so a long-lived session does not
accumulate them. The returned ``packed`` frame stays lazy; collecting
it later recomputes its (verdict → survivors → packing) lineage once.

At 100 TB each stage is one or two keyed shuffles over a monotonically
shrinking corpus; nothing here adds a plan shape the certified queries
don't already pin.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.dedup import minhash_lsh_pairs
from ..operators.packing import assign_split, pack_sequences
from ..operators.text import (
    decontaminate,
    lang_id,
    quality_score,
    repetition_features,
)
from ..sources import load_table


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    eval_docs: DataFrame | None = None,
    min_quality: float = 0.3,
    capacity: int = 512,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the full curation DAG over the ``documents`` table.

    Returns ``(packed_train_docs, stats)`` where ``stats`` counts the
    corpus after every gate (the reference's per-step stats
    accumulation, SURVEY §2.4 A16). Deterministic end to end: every
    gate is seedless (md5-derived), so re-runs are byte-identical.
    Each stage is computed once (see the module docstring); the
    function leaves no persisted frame behind.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    text = F.col("text")

    # 1. quality gates — native expressions, one pass. The repetition
    # verdict carries its id column through, so carrying the whole row
    # as that column keeps the gate one projection (no join back).
    rep = repetition_features(docs.select(F.struct("doc_id", "text").alias("doc"), "text"),
                              id_col="doc")
    scored = rep.select(
        "doc.doc_id",
        "doc.text",
        (F.col("keep") & (lang_id(text) == "en") & (quality_score(text) >= min_quality))
        .alias("quality"),
    )

    # 2. decontamination of the quality survivors against the eval set
    # (default: the same deterministic held-out slice q_decontaminate
    # certifies).
    if eval_docs is None:
        eval_docs = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    hits = decontaminate(scored.filter("quality"), eval_docs, n=3).select(
        "doc_id", F.lit(True).alias("hit")
    )
    clean = F.col("quality") & F.col("hit").isNull()

    # 3. exact dedup — first-arrival-wins: the survivor is the minimum
    # clean doc id per content hash.
    first_clean = F.min(F.when(clean, F.col("doc_id"))).over(Window.partitionBy(F.md5(text)))
    verdict = scored.join(hits, "doc_id", "left").select(
        "doc_id",
        "text",
        "quality",
        clean.alias("clean"),
        (clean & (F.col("doc_id") == first_clean)).alias("survivor"),
    )

    with ExitStack() as release:
        verdict = verdict.persist()
        release.callback(verdict.unpersist)
        stats = verdict.agg(
            F.count("*").alias("raw"),
            F.count_if("quality").alias("after_quality"),
            F.count_if("clean").alias("after_decontamination"),
            F.count_if("survivor").alias("after_exact_dedup"),
        ).first().asDict()  # bounded: single global-agg row (and the cache-filling action)

        # 4. near-dup clusters → keep each cluster's min doc id (docs in
        # no cluster survive via the anti-join against the losers).
        exact = verdict.filter("survivor").select("doc_id", "text")
        pairs = minhash_lsh_pairs(exact)
        comps = connected_components(pairs, src="id_a", dst="id_b")
        losers = comps.filter(F.col("vertex") != F.col("component")).select(
            F.col("vertex").alias("doc_id")
        )

        # 5. split assignment, then packing of the train split.
        split = assign_split(exact.join(losers, "doc_id", "left_anti")).select(
            "doc_id", "split", F.size(F.split(text, " ")).alias("n_tokens")
        ).persist()
        release.callback(split.unpersist)
        stats.update(split.agg(
            F.count("*").alias("after_near_dedup"),
            F.count_if(F.col("split") == "train").alias("train_docs"),
        ).first().asDict())  # bounded: single global-agg row (and the cache-filling action)
        train = split.filter(F.col("split") == "train").select("doc_id", "n_tokens")
        packed = pack_sequences(train, token_col="n_tokens", capacity=capacity)
        stats["packed_sequences"] = packed.select("seq_id").distinct().count()
    return packed, stats
