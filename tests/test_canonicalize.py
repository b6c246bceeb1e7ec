"""Canonicalization vs the exact pure-Python oracle, through both fuzzy
paths: the driver-side similarity join and the distributed LSH + CC."""

import random
import uuid

from node_feedparser_spark.functions.normalize import char_shingles, jaccard
from node_feedparser_spark.operators import canonicalize as canon_mod
from node_feedparser_spark.operators.canonicalize import (
    canonicalize,
    fuzzy_pairs,
    lsh_candidate_pairs,
)
from node_feedparser_spark.operators.components import connected_components
from node_feedparser_spark.reference_extract import (
    FUZZY_JACCARD,
    canonicalize_entities,
    extract_corpus,
)

#: the two fuzzy paths: the module's bound (every test input fits it) and
#: a bound of 0, which sends any non-empty vocabulary down LSH + CC
PATHS = {"driver": canon_mod.DRIVER_FUZZY_KEYS, "distributed": 0}


def _surface_counts(triples) -> dict[str, int]:
    counts: dict[str, int] = {}
    for t in triples:
        for s in (t["subj"], t["obj"]):
            counts[s] = counts.get(s, 0) + 1
    return counts


def _entity_group_counts() -> dict[str, int]:
    """Generated entity groups (name, UPPER variant, one-letter typo) plus
    pseudo surfaces, one of which ('conv:abc') normalizes to the same key
    as a mention ('Conv Abc') whose typo ('Conv Abcd') fuzzy-merges with it:
    the pseudo surface must land in that component."""
    rng = random.Random(7)
    syllables = ["ka", "ro", "mi", "ten", "zu", "bel", "dra", "xo", "vin", "qua"]
    counts: dict[str, int] = {}
    for _ in range(60):
        name = "".join(rng.choice(syllables) for _ in range(3)).capitalize()
        i = rng.randrange(1, len(name))
        for s in (name, name.upper(), name[:i] + name[i] + name[i:]):
            counts[s] = counts.get(s, 0) + 2 * rng.randint(1, 3)
    for s in ("Conv Abc", "Conv Abcd", "conv:abc", "conv:xyz", "tool:Kaka"):
        counts[s] = counts.get(s, 0) + 2
    return counts


def _canonical(spark, counts: dict[str, int]):
    surfaces = spark.createDataFrame(
        sorted(counts.items()), "surface string, n_mentions long"
    )
    mapping, vertices = canonicalize(spark, surfaces)
    return (
        {r.surface: r.entity_id for r in mapping.collect()},
        {
            r.entity_id: (r.canonical_name, tuple(r.aliases), r.n_mentions)
            for r in vertices.collect()
        },
    )


def _oracle(triples):
    ids, vertices = canonicalize_entities(triples)
    return ids, {
        v["entity_id"]: (v["canonical_name"], tuple(v["aliases"]), v["n_mentions"])
        for v in vertices
    }


def _both_paths(spark, monkeypatch, counts: dict[str, int]) -> dict:
    """(mapping, vertices) per fuzzy path, each path forced in turn."""
    out = {}
    for path, bound in PATHS.items():
        monkeypatch.setattr(canon_mod, "DRIVER_FUZZY_KEYS", bound)
        out[path] = _canonical(spark, counts)
    return out


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10
    assert 20 not in labels  # self-loop dropped; singleton handled by caller


def test_connected_components_chain(spark):
    # path graph 0-1-2-...-9: worst case for naive propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(labels.values()) == {0}
    assert set(labels.keys()) == set(range(10))


def test_cc_local_and_distributed_agree(spark):
    """The driver-side union-find fast path and the large-star/small-star
    loop must assign identical labels on a random-ish graph."""
    import random

    rng = random.Random(1234)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        r.node: r.component
        for r in connected_components(df, local_threshold=10**6).collect()
    }
    dist = {
        r.node: r.component
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert local == dist and local


def test_jvm_columns_match_python_spec(spark):
    """entity_hash_col / char_shingles_col / jaccard_col are JVM-side
    re-expressions of the pure-Python spec functions — parity must be exact
    (the oracle is defined by the Python versions)."""
    from node_feedparser_spark.functions.normalize import (
        char_shingles,
        entity_hash,
        jaccard,
    )
    from node_feedparser_spark.operators.canonicalize import (
        char_shingles_col,
        entity_hash_col,
        jaccard_col,
    )

    keys = [
        "kubernetes", "a", "ab", "abc", "postgres 12", "café über",
        "кубернетес", "x" * 50, "with  double  spaces",
    ]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    rows = df.select(
        "key",
        entity_hash_col("key").alias("h"),
        char_shingles_col("key").alias("sh"),
    ).collect()
    for r in rows:
        assert r["h"] == entity_hash(r["key"]), r["key"]
        assert set(r["sh"]) == char_shingles(r["key"]), r["key"]

    pairs = [(a, b) for a in keys[:5] for b in keys[:5]]
    pdf = spark.createDataFrame(pairs, "a string, b string")
    for r in pdf.select("a", "b", jaccard_col("a", "b").alias("j")).collect():
        want = jaccard(char_shingles(r["a"]), char_shingles(r["b"]))
        assert abs(r["j"] - want) < 1e-12, (r["a"], r["b"])


def test_lsh_finds_fuzzy_pairs(spark):
    keys = spark.createDataFrame(
        [("kubernetes",), ("kuberrnetes",), ("javascript",), ("typescript",)],
        "key string",
    )
    pairs = {
        (r.key_a, r.key_b) for r in lsh_candidate_pairs(keys).collect()
    }
    assert ("kubernetes", "kuberrnetes") in pairs


def test_fuzzy_pairs_equals_all_pairs():
    """The driver-side prefix-filtered join finds exactly the pairs the
    oracle's O(n^2) loop merges, including 1-3 character keys (a single
    padded shingle) and long keys whose prefixes are short."""
    rng = random.Random(3)
    keys = {"", "a", "ab", "abc", "abcd", "x" * 40, "x" * 41, "kubernetes",
            "kuberrnetes", "postgres", "postgresql", "conv abc", "conv abcd"}
    while len(keys) < 400:
        word = "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 12)))
        i = rng.randrange(len(word))
        keys.update((word, word[:i] + word[i] + word[i:], f"{word} {word[::-1]}"))
    keys = sorted(keys)
    sh = {k: char_shingles(k) for k in keys}
    want = {
        (a, b)
        for i, a in enumerate(keys)
        for b in keys[i + 1:]
        if jaccard(sh[a], sh[b]) >= FUZZY_JACCARD
    }
    got = {tuple(sorted(p)) for p in fuzzy_pairs(keys)}
    assert got == want and len(want) > 100


def test_canonicalize_matches_oracle(spark, corpus_pdf, monkeypatch):
    """Both fuzzy paths must give identical mapping and vertices, equal to
    the exact O(n^2) oracle grouping on the fixture corpus (same partition
    of surface forms, same entity IDs, same canonical names)."""
    ref = extract_corpus(corpus_pdf.to_dict("records"))
    got = _both_paths(spark, monkeypatch, _surface_counts(ref.triples))
    assert got["driver"] == got["distributed"] == _oracle(ref.triples)


def test_pseudo_key_collision_matches_oracle(spark, monkeypatch):
    """The same on generated entity groups whose pseudo surface 'conv:abc'
    shares its key with a fuzzy-merged mention."""
    counts = _entity_group_counts()
    # every surface as both ends of n/2 self-triples: oracle counts = n
    triples = [
        {"subj": s, "obj": s} for s, n in counts.items() for _ in range(n // 2)
    ]
    got = _both_paths(spark, monkeypatch, counts)
    assert got["driver"] == got["distributed"] == _oracle(triples)
    ids = got["driver"][0]
    assert ids["conv:abc"] == ids["Conv Abc"] == ids["Conv Abcd"]
    assert ids["conv:xyz"] != ids["conv:abc"]


def _jobs_submitted(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "canonicalize job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: Spark jobs (AQE submits one per query stage) that canonicalize plus a
#: count of mapping and of vertices submit on the fixture surfaces: 3 for
#: the bounded key collect, 4 and 5 for the counts, each of which also
#: builds the alias-dim and label broadcasts.  The forced distributed path
#: submits 20.
DRIVER_PATH_JOBS = 12


def test_driver_path_job_budget(spark, corpus_pdf, monkeypatch):
    """A small vocabulary costs a handful of jobs.  Bringing the band
    self-join, the CC edge localCheckpoint or the label joins back for it
    blows the budget, as the forced distributed path shows."""
    surfaces = spark.createDataFrame(
        sorted(
            _surface_counts(
                extract_corpus(corpus_pdf.to_dict("records")).triples
            ).items()
        ),
        "surface string, n_mentions long",
    ).cache()
    surfaces.count()

    def run():
        mapping, vertices = canonicalize(spark, surfaces)
        mapping.count()
        vertices.count()

    try:
        driver = _jobs_submitted(spark, run)
        monkeypatch.setattr(canon_mod, "DRIVER_FUZZY_KEYS", 0)
        distributed = _jobs_submitted(spark, run)
    finally:
        surfaces.unpersist()
    assert 0 < driver <= DRIVER_PATH_JOBS, driver
    assert distributed > DRIVER_PATH_JOBS, distributed
