"""The traced run's per-layer probe pass.

Each layer's public function is called from here and forced on its own,
with its input cached beforehand so the span times that layer alone:
read_transcripts -> dedupe_first_wins (on build_kg's fused plan: the
(bucket, wsalt) exchange of fuse_write_partitioning serves the dedupe
window) -> extract_triples -> surface_keys ->
lsh_candidate_pairs (+ Jaccard verification) -> connected_components ->
canonicalize, then the read and maintenance side over the build's output:
a merge-mode delta build_kg commit, validate_kg, bgp_match queries,
bucket-pruned read_triples_snapshot reads and expire_snapshot.
"""

from __future__ import annotations

import inspect
import os
import statistics

from pyspark.sql import functions as F

from node_feedparser_spark.operators.bgp import bgp_match
from node_feedparser_spark.operators.canonicalize import (
    canonicalize,
    entity_hash_col,
    jaccard_col,
    lsh_candidate_pairs,
    surface_keys,
)
from node_feedparser_spark.operators.components import connected_components
from node_feedparser_spark.operators.extract import (
    ERROR_PRED,
    dedupe_first_wins,
    extract_triples,
)
from node_feedparser_spark.plans.expire import expire_snapshot
from node_feedparser_spark.plans.pipeline import (
    build_kg,
    fuse_write_partitioning,
    read_triples_snapshot,
    write_sub,
)
from node_feedparser_spark.plans.validate import validate_kg
from node_feedparser_spark.reference_extract import FUZZY_JACCARD
from node_feedparser_spark.sources.transcripts import read_transcripts

#: the edge count up to which connected_components solves on the driver
LOCAL_CC_EDGES = inspect.signature(connected_components).parameters[
    "local_threshold"
].default
#: bgp pattern shapes, each timed QUERY_REPS times
BGP_SHAPES = {
    "one": [("?s", "uses", "?o")],
    "path": [("?a", "uses", "?b"), ("?b", "runs_on", "?c")],
    "star": [("?a", "uses", "?b"), ("?a", "runs_on", "?c")],
}
QUERY_REPS = 2


def _median_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0


def operators(spark, tracer, corpus: str, n_buckets: int, m: dict) -> None:
    """Extraction and canonicalization layers, one forced call each."""
    cached = []

    def cache(df):
        cached.append(df.cache())
        return df

    # bucketed as build_kg buckets its scan
    raw = cache(
        read_transcripts(spark, corpus).withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
    )
    with tracer.span("sources.scan") as s:
        m["sources.rows"] = raw.count()
    m["sources.scan_s"] = s["seconds"]

    sub = write_sub(n_buckets, spark.sparkContext.defaultParallelism)
    turns = cache(
        dedupe_first_wins(
            fuse_write_partitioning(raw, n_buckets, sub),
            partition_prefix=("bucket", "wsalt"),
        )
    )
    with tracer.span("extract.dedupe") as s:
        m["extract.dedupe_rows_out"] = turns.count()
    m["extract.dedupe_s"] = s["seconds"]
    m["extract.dedupe_rows_in"] = m["sources.rows"]

    extracted = cache(extract_triples(turns))
    with tracer.span("extract.extract") as s:
        by_kind = dict(
            extracted.groupBy((F.col("pred") == ERROR_PRED).alias("err"))
            .count()
            .collect()
        )
    m["extract.extract_s"] = s["seconds"]
    m["extract.triples_out"] = by_kind.get(False, 0)
    m["extract.error_rows"] = by_kind.get(True, 0)

    # the surface table build_kg feeds canonicalize
    surfaces = cache(
        extracted.filter(F.col("pred") != ERROR_PRED)
        .select(F.explode(F.array("subj", "obj")).alias("surface"))
        .groupBy("surface")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    surfaces.count()

    keyed = cache(surface_keys(spark, surfaces))
    with tracer.span("canonicalize.keys") as s:
        m["canonicalize.surfaces_in"] = keyed.count()
    m["canonicalize.keys_s"] = s["seconds"]

    fuzzy = cache(keyed.filter(~F.col("is_pseudo")).select("key").distinct())
    fuzzy.count()
    pairs = cache(lsh_candidate_pairs(fuzzy))
    edges = cache(
        pairs.filter(jaccard_col("key_a", "key_b") >= F.lit(FUZZY_JACCARD)).select(
            entity_hash_col("key_a").alias("src"), entity_hash_col("key_b").alias("dst")
        )
    )
    with tracer.span("canonicalize.lsh") as s:
        n_pairs = pairs.count()
        n_verified = edges.count()
    m["canonicalize.lsh_s"] = s["seconds"]
    m["canonicalize.lsh_pairs"] = n_pairs
    m["canonicalize.verified_pairs"] = n_verified
    m["canonicalize.lsh_precision"] = n_verified / n_pairs if n_pairs else 1.0

    with tracer.span("components.cc") as s:
        connected_components(edges).count()
    m["components.cc_s"] = s["seconds"]
    m["components.edges"] = n_verified
    m["components.local_path"] = int(n_verified <= LOCAL_CC_EDGES)

    with tracer.span("canonicalize.total") as s:
        mapping, vertices = canonicalize(spark, surfaces)
        mapping = cache(mapping)
        mapping.count()
        m["canonicalize.entities_out"] = vertices.count()
    m["canonicalize.total_s"] = s["seconds"]
    # the estimate build_kg compares against its 64 MB broadcast gate
    row = mapping.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.length("surface")), F.lit(0)).alias("surface_bytes"),
    ).collect()[0]
    m["canonicalize.mapping_bytes_est"] = (
        int(row["surface_bytes"]) + 48 * int(row["rows"])
    )

    for df in cached:
        df.unpersist()


def read_side(
    spark, tracer, output_dir: str, delta: str, n_buckets: int, m: dict
) -> None:
    """Merge a delta snapshot into the built KG, audit it, query it, read
    it bucket by bucket, then expire the delta again."""
    with tracer.span("pipeline.delta_commit") as s:
        summary = build_kg(spark, delta, output_dir, n_buckets=n_buckets)
    for phase, sec in summary["phases"].items():
        tracer.child(s, f"pipeline.delta_commit.{phase}", sec)
    m["pipeline.delta_commit_s"] = s["seconds"]
    m["pipeline.delta_write_aggregates_s"] = summary["phases"]["write_aggregates"]
    snap = summary["snapshot_id"]

    with tracer.span("validate") as s:
        audit = validate_kg(spark, output_dir)
    m["validate.s"] = s["seconds"]
    m["validate.checks_failed"] = audit["n_fail"]

    triples = spark.read.parquet(os.path.join(output_dir, "triples"))
    times: dict[str, list[float]] = {k: [] for k in BGP_SHAPES}
    rows: dict[str, int] = {}
    for _ in range(QUERY_REPS):
        for shape, patterns in BGP_SHAPES.items():
            with tracer.span("bgp.query") as s:
                rows[shape] = bgp_match(triples, patterns).count()
            times[shape].append(s["seconds"])
    for shape, xs in times.items():
        m[f"bgp.query_ms.{shape}"] = _median_ms(xs)
    m["bgp.rows_out"] = sum(rows.values())

    reads = []
    for b in range(n_buckets):
        with tracer.span("pipeline.read_snapshot") as s:
            read_triples_snapshot(spark, output_dir, snap, [b]).count()
        reads.append(s["seconds"])
    m["pipeline.read_snapshot_ms"] = _median_ms(reads)

    with tracer.span("expire") as s:
        out = expire_snapshot(spark, output_dir, snap)
    m["expire.s"] = s["seconds"]
    m["expire.partitions"] = out["expired_partitions"]
