"""Entity canonicalization — surface forms -> canonical entity IDs.

The distributed version of reference_extract.canonicalize_entities, the
analog of the reference collapsing many namespace URIs onto one canonical
prefix (lib/constants.js:7-38, lib/utils.js:137-150) — except the dictionary
is partly *built by the job*:

  1. normalize surface -> blocking key (vectorized pandas UDF; NFKC casefold
     must match the spec exactly, so it shares the same Python function),
  2. static alias dictionary via **broadcast hash join** (tiny dim table —
     SURVEY.md J1; Catalyst broadcasts it, no shuffle),
  3. fuzzy pairs among the distinct MENTION keys (3-gram Jaccard >=
     FUZZY_JACCARD), hybrid on vocabulary size like connected_components:
     one bounded Arrow collect (limit DRIVER_FUZZY_KEYS + 1) decides.
     - fits: an exact shingle inverted index with prefix filtering on the
       driver (fuzzy_pairs — the oracle's pairs by construction) and a
       union-find; the labels return as a broadcast local relation.  At
       this size a distributed plan is ~all per-stage fixed cost;
     - does not fit: **MinHash-LSH banding**, DataFrame-native: explode
       3-gram shingles -> 64 seeded xxhash64 min-aggregations -> band
       hashes -> self-join on (band_idx, band_hash) (O(n) shuffle; pairwise
       work only inside LSH buckets), exact Jaccard verification of the
       candidates (LSH under-generates with probability < 1e-5 at s>=0.55
       with 32 bands x 2 rows), then connected_components,
  4. labels (node = sha1-hash of the key, component = min node) join every
     surface on node_id: entity_id = coalesce(component, node_id) in ONE
     table, mapped(surface, entity_id, n_mentions).  mapping projects it;
     vertices is one map-side-combinable groupBy over it.

Pseudo-entities ('conv:…', 'tool:…') merge by exact key ONLY: their keys
never enter step 3 (fuzzy-merging conversation IDs would collapse distinct
conversations).  A pseudo key equal to a mention key has that key's
node_id, so it joins the key's component exactly as in the oracle, where
both hang off one key node.

DRIVER_FUZZY_KEYS was set by timing map_surfaces (cached) + a count of it
and of entity_vertices, warm, median of 2, with each path forced, on
entity_heavy-style vocabularies (kgbench entity_groups: 3 surfaces and 2
keys per group, plus 1 pseudo surface per 6 groups), local[4], 4-core VM:

    distinct keys   driver path   LSH + CC path   fuzzy_pairs alone
        2,400          2.7 s          11.5 s            0.09 s
       10,000          2.9 s          49.3 s            0.7 s
       20,000          6.8 s         155.6 s            5.0 s

The driver path wins at every size measured, but fuzzy_pairs grows about
quadratically on these vocabularies (their shingles come from a small
syllable set), so the bound is the largest size measured, 20k, not a
crossover; raising it needs measurements past 20k.

Scale notes: distinct surface forms ≪ total mentions (counts aggregate
first); every join key is a 64-bit hash or short string; past the bound
the only wide shuffle is the shingle explode, bounded by Σ|key| per
partition.  AQE handles residual skew (hot shingles like ' th').
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..constants import ALIAS_TABLE
from ..functions.normalize import char_shingles, entity_hash, normalize_entity_key
from ..reference_extract import FUZZY_JACCARD
from .components import connected_components, union_find_labels

N_MINHASH = 64
N_BANDS = 32  # rows per band = N_MINHASH // N_BANDS = 2
#: distinct non-pseudo keys up to which fuzzy_labels runs on the driver
#: (bound table in the module docstring)
DRIVER_FUZZY_KEYS = 20_000


@pandas_udf(T.StringType())
def norm_key_udf(surfaces: pd.Series) -> pd.Series:
    """The only Python exchange in canonicalization: NFKC casefold has no
    JVM-side equivalent expression.  Everything downstream is JVM columns."""
    return surfaces.map(normalize_entity_key)


def entity_hash_col(key) -> "F.Column":
    """JVM twin of functions.normalize.entity_hash: first 8 bytes of
    sha1(key) as big-endian signed int64.  shiftleft/bitwiseOR reassemble
    the two 32-bit halves with two's-complement wrap (bitwise ops don't
    ANSI-overflow); parity with the oracle is pinned by tests."""
    c = F.col(key) if isinstance(key, str) else key
    d = F.sha1(c)
    hi = F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def char_shingles_col(key, k: int = 3) -> "F.Column":
    """JVM twin of functions.normalize.char_shingles: distinct character
    k-grams of the space-padded key (whole padded string when shorter than
    k)."""
    c = F.col(key) if isinstance(key, str) else key
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    n = F.length(padded)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)), lambda i: padded.substr(i, F.lit(k))
    )
    return F.array_distinct(
        F.when(n <= k, F.array(padded)).otherwise(grams)
    )


def jaccard_col(a, b, k: int = 3) -> "F.Column":
    """JVM twin of functions.normalize.jaccard over char shingle sets."""
    sa, sb = char_shingles_col(a, k), char_shingles_col(b, k)
    inter = F.size(F.array_intersect(sa, sb))
    return inter / (F.size(sa) + F.size(sb) - inter)


def alias_dim(spark: SparkSession) -> DataFrame:
    """The static alias dictionary as a broadcastable dimension table."""
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(ALIAS_TABLE.items())],
        schema="alias_key string, canonical_key string",
    )


def surface_keys(spark: SparkSession, surfaces: DataFrame) -> DataFrame:
    """surfaces(surface, n_mentions) -> (surface, key, n_mentions, is_pseudo).

    Normalization UDF + broadcast alias join (J1).  A key that normalizes to
    empty falls back to the raw surface (never lose data)."""
    keyed = surfaces.withColumn("raw_key", norm_key_udf("surface"))
    keyed = keyed.withColumn(
        "raw_key",
        F.when(F.col("raw_key") == "", F.col("surface")).otherwise(F.col("raw_key")),
    )
    dim = F.broadcast(alias_dim(spark))
    return (
        keyed.join(dim, keyed.raw_key == dim.alias_key, "left")
        .select(
            "surface",
            F.coalesce("canonical_key", "raw_key").alias("key"),
            "n_mentions",
            (
                F.col("surface").startswith("conv:")
                | F.col("surface").startswith("tool:")
            ).alias("is_pseudo"),
        )
    )


def lsh_candidate_pairs(keys: DataFrame) -> DataFrame:
    """keys(key) [distinct, non-pseudo] -> candidate pairs (key_a, key_b).

    MinHash: minhash_i(key) = min over shingles s of xxhash64(i, s).
    Banding: band_j = xxhash64(j, h_{2j}, h_{2j+1}); keys sharing any band
    bucket become a candidate pair.  Bucket join uses a conditional self-join
    on (band_idx, band_hash) with key_a < key_b to halve the pair space.
    """
    exploded = keys.select("key", F.explode(char_shingles_col("key")).alias("shingle"))
    minhashes = exploded.groupBy("key").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(N_MINHASH)
        ]
    )
    r = N_MINHASH // N_BANDS
    bands = minhashes.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.xxhash64(
                            F.lit(j), *[F.col(f"h{j * r + k}") for k in range(r)]
                        ).alias("band_hash"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("key", "band.band_idx", "band.band_hash")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .distinct()
    )


def fuzzy_pairs(keys: list[str]) -> list[tuple[str, str]]:
    """Every pair of distinct keys with 3-gram Jaccard >= FUZZY_JACCARD,
    exactly the pairs reference_extract.canonicalize_entities merges, found
    with a shingle inverted index and prefix filtering (AllPairs).

    Shingles are ranked rarest first; a key indexes and probes only its
    prefix, the first |x| - ceil(t|x|) + 1 ranks.  Two sets with Jaccard
    >= t share at least ceil(t * max(|x|, |y|)) shingles, so their prefixes
    share one: every qualifying pair is a candidate.  Keys are visited in
    ascending set size, and a probe skips indexed keys smaller than t|x|
    (Jaccard <= |y|/|x|), trimming each posting list from the front.  Each
    candidate is verified with the reference's own float expression, so
    the result is exact, not an estimate.  The 1e-9 slack only lengthens
    prefixes, guarding ceil() against float rounding of t*|x|."""
    t = FUZZY_JACCARD
    sets = [char_shingles(k) for k in keys]
    freq = Counter(g for s in sets for g in s)
    rank = {g: r for r, g in enumerate(sorted(freq, key=lambda g: (freq[g], g)))}
    ranked = [sorted(rank[g] for g in s) for s in sets]
    postings: dict[int, list[int]] = {}
    start: dict[int, int] = {}
    pairs = []
    for i in sorted(range(len(keys)), key=lambda i: len(sets[i])):
        a = sets[i]
        min_size = t * len(a) - 1e-9
        candidates: set[int] = set()
        for g in ranked[i][: len(a) - math.ceil(min_size) + 1]:
            post = postings.setdefault(g, [])
            lo = start.get(g, 0)
            while lo < len(post) and len(sets[post[lo]]) < min_size:
                lo += 1
            start[g] = lo
            candidates.update(post[lo:])
            post.append(i)
        for j in candidates:
            b = sets[j]
            inter = len(a & b)
            if inter / (len(a) + len(b) - inter) >= t:
                pairs.append((keys[j], keys[i]))
    return pairs


def fuzzy_labels(spark: SparkSession, fuzzy_keys: DataFrame) -> DataFrame:
    """fuzzy_keys(key) [distinct, non-pseudo] -> labels(node, component),
    node = entity_hash(key), component = min node of its fuzzy component;
    keys in no pair are absent.

    Hybrid, like connected_components: one bounded Arrow collect decides.
    Up to DRIVER_FUZZY_KEYS keys, fuzzy_pairs + union-find run on the
    driver and the labels come back as a broadcastable local relation;
    past it, the distributed LSH -> Jaccard verify -> connected_components
    path runs.  Both return identical labels (pinned by tests)."""
    keys = fuzzy_keys.limit(DRIVER_FUZZY_KEYS + 1).toPandas()["key"].tolist()
    if len(keys) <= DRIVER_FUZZY_KEYS:
        labels = union_find_labels(
            (entity_hash(a), entity_hash(b)) for a, b in fuzzy_pairs(keys)
        )
        return F.broadcast(
            spark.createDataFrame(labels, "node long, component long")
        )
    verified = lsh_candidate_pairs(fuzzy_keys).filter(
        jaccard_col("key_a", "key_b") >= F.lit(FUZZY_JACCARD)
    )
    return connected_components(
        verified.select(
            entity_hash_col("key_a").alias("src"),
            entity_hash_col("key_b").alias("dst"),
        )
    )


def map_surfaces(spark: SparkSession, surfaces: DataFrame) -> DataFrame:
    """surfaces(surface, n_mentions) -> mapped(surface, entity_id,
    n_mentions), uncached: the one table mapping and vertices project.

    node_id = entity_hash(key), so a pseudo surface whose key equals a
    mention key shares that key's node and picks up its fuzzy component
    from the same label join — no separate pseudo or overlap path.  Every
    other node is its own entity (coalesce)."""
    keyed = surface_keys(spark, surfaces).withColumn(
        "node_id", entity_hash_col("key")
    )
    labels = fuzzy_labels(
        spark, keyed.filter(~F.col("is_pseudo")).select("key").distinct()
    )
    return keyed.join(labels, keyed.node_id == labels.node, "left").select(
        "surface",
        F.coalesce("component", "node_id").alias("entity_id"),
        "n_mentions",
    )


def entity_vertices(mapped: DataFrame) -> DataFrame:
    """mapped(surface, entity_id, n_mentions) -> vertices(entity_id,
    canonical_name, aliases, n_mentions) in one map-side-combinable
    groupBy: canonical_name is the min of (-n_mentions, surface), i.e.
    most-mentioned surface, ties lexicographic — the spec's (count desc,
    name asc)."""
    return (
        mapped.groupBy("entity_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_mentions")).alias("neg"),
                    F.col("surface").alias("s"),
                )
            ).alias("best"),
            F.sort_array(F.collect_set("surface")).alias("aliases"),
            F.sum("n_mentions").alias("n_mentions"),
        )
        .select(
            "entity_id",
            F.col("best.s").alias("canonical_name"),
            "aliases",
            "n_mentions",
        )
    )


def canonicalize(spark: SparkSession, surfaces: DataFrame):
    """surfaces(surface, n_mentions) -> (mapping, vertices).

    mapping:  (surface, entity_id)
    vertices: (entity_id, canonical_name, aliases, n_mentions) — canonical
              name = most-mentioned surface, ties lexicographic
              (matches the pure-Python spec).

    Both project map_surfaces' table, which nothing here caches: a caller
    that reads both (build_kg) caches map_surfaces' result itself and
    releases it."""
    mapped = map_surfaces(spark, surfaces)
    return mapped.select("surface", "entity_id"), entity_vertices(mapped)
