"""Seeded benchmark inputs, generated once per (workload, seed, size) and
cached under ``.bench_cache/`` in the checkout.

Every corpus is written with an explicit Arrow schema that mirrors
``schemas.TRANSCRIPTS``: a ``tool`` column that happens to be all null would
otherwise be inferred as INT32 and fail the pinned-schema transcript scan.

Each cache entry holds:
- ``corpus.parquet``  the measured input,
- ``delta.parquet``   a small corpus with conv_ids disjoint from the measured
  one; it warms nothing and is only merged in by the traced probe pass,
- ``expected.json``   the pure-Python reference answers the gates compare
  against (distinct turns, triple count),
- ``groups.json``     (entity_heavy only) the ground-truth entity groups.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from node_feedparser_spark.datagen import write_transcripts
from node_feedparser_spark.functions.normalize import (
    char_shingles,
    jaccard,
    normalize_entity_key,
)
from node_feedparser_spark.constants import ALIAS_TABLE
from node_feedparser_spark.reference_extract import FUZZY_JACCARD, extract_corpus

TRANSCRIPTS_ARROW = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)

#: input sizes per workload; ``tiny`` exists for the benchmark's own tests
SIZES = {
    "fresh_build": {
        "full": {"scale": 20.0, "replicas": 10, "delta_scale": 1.0},
        "tiny": {"scale": 1.0, "replicas": 2, "delta_scale": 0.5},
    },
    "entity_heavy": {
        "full": {"groups": 1200, "delta_groups": 300},
        "tiny": {"groups": 150, "delta_groups": 60},
    },
}

SUFFIXES = (" Server", " DB", " Cache", " Gateway")
PREDICATE_PHRASES = (
    "uses", "runs on", "depends on", "connects to", "maintains", "created",
)
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + [
    c + v + e for c in "bdgklmnprstv" for v in "aeiou" for e in "nrlx"
]


def write_corpus(rows: list[dict], path: str) -> None:
    table = pa.Table.from_pylist(rows, schema=TRANSCRIPTS_ARROW)
    pq.write_table(table, path, row_group_size=max(4096, len(rows) // 16))


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path, schema=TRANSCRIPTS_ARROW).to_pylist()


def expected_answers(rows: list[dict]) -> dict:
    ref = extract_corpus(rows)
    return {
        "n_turns": len({(r["conv_id"], r["turn_idx"]) for r in rows}),
        "n_triples": len(ref.triples),
    }


# --- fresh_build: the datagen fixture corpus, fanned out by replica suffix


def fan_out(base_path: str, replicas: int, out_path: str) -> None:
    """R copies of the base corpus with conv_ids suffixed ``#<r>``: the
    vocabulary stays narrow while the turn count grows R-fold."""
    base = pq.read_table(base_path).cast(TRANSCRIPTS_ARROW)
    conv = base.column("conv_id").to_pylist()
    parts = [
        base.set_column(0, "conv_id", pa.array([f"{c}#{r}" for c in conv]))
        for r in range(replicas)
    ]
    table = pa.concat_tables(parts)
    pq.write_table(table, out_path, row_group_size=max(4096, len(table) // 16))


def make_fresh_build(d: str, seed: int, size: dict) -> None:
    base = os.path.join(d, "base.parquet")
    write_transcripts(base, seed=seed, scale=size["scale"])
    fan_out(base, size["replicas"], os.path.join(d, "corpus.parquet"))
    # the reference extractor is per turn, so every replica yields the
    # base corpus's triple count
    exp = expected_answers(read_rows(base))
    exp = {k: v * size["replicas"] for k, v in exp.items()}
    os.remove(base)
    # the delta keeps datagen's unsuffixed conv_ids: disjoint from corpus
    write_transcripts(
        os.path.join(d, "delta.parquet"), seed=seed + 1, scale=size["delta_scale"]
    )
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(exp, f)


# --- entity_heavy: wide vocabulary, few turns


def _name(rng: random.Random) -> str:
    word = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(3, 4)))
    name = word.capitalize()
    if rng.random() < 0.2:
        name += rng.choice(SUFFIXES)
    return name


def _typo(rng: random.Random, name: str) -> str:
    """Double one letter of the first word (never its capital)."""
    first, _, rest = name.partition(" ")
    i = rng.randrange(1, len(first))
    first = first[:i] + first[i] + first[i:]
    return f"{first} {rest}" if rest else first


def entity_groups(rng: random.Random, n: int) -> list[list[str]]:
    """n groups of [canonical, UPPER-CASE variant, one-letter-doubled typo].

    A group is accepted only if its typo stays within FUZZY_JACCARD of the
    canonical key and no key of it comes within 0.4 of any key of an earlier
    group, so the exact canonicalization (and therefore the gate's ground
    truth) is the generated grouping."""
    groups: list[list[str]] = []
    shingles: list[set[str]] = []
    index: dict[str, list[int]] = {}
    seen: set[str] = set()
    while len(groups) < n:
        name = _name(rng)
        typo = _typo(rng, name)
        keys = [normalize_entity_key(name), normalize_entity_key(typo)]
        if any(k in seen or k in ALIAS_TABLE for k in keys):
            continue
        sh = [char_shingles(k) for k in keys]
        if jaccard(sh[0], sh[1]) < FUZZY_JACCARD:
            continue
        near = {j for s in sh for g in s for j in index.get(g, ())}
        if any(jaccard(a, shingles[j]) >= 0.4 for a in sh for j in near):
            continue
        groups.append([name, name.upper(), typo])
        for k, s in zip(keys, sh):
            seen.add(k)
            j = len(shingles)
            shingles.append(s)
            for g in s:
                index.setdefault(g, []).append(j)
    return groups


def entity_rows(
    rng: random.Random, groups: list[list[str]], prefix: str
) -> list[dict]:
    """Every variant of every group, shuffled into 3-relation turns and
    3-turn conversations.  Lower-case connectives keep adjacent names from
    running together into one entity span."""
    from datetime import datetime, timedelta

    surfaces = [s for g in groups for s in g]
    rng.shuffle(surfaces)
    if len(surfaces) % 2:
        surfaces.append(groups[0][0])
    texts = []
    for i in range(0, len(surfaces), 6):
        chunk = surfaces[i : i + 6]
        texts.append(
            ", and ".join(
                f"{a} {rng.choice(PREDICATE_PHRASES)} {b}"
                for a, b in zip(chunk[::2], chunk[1::2])
            )
        )
    epoch = datetime(2025, 1, 6, 9, 0, 0)
    return [
        {
            "conv_id": f"{prefix}{i // 3:06d}",
            "turn_idx": i % 3,
            "role": ("user", "assistant")[i % 2],
            "text": t,
            "tool": None,
            "ts": epoch + timedelta(seconds=i),
        }
        for i, t in enumerate(texts)
    ]


def make_entity_heavy(d: str, seed: int, size: dict) -> None:
    rng = random.Random(seed)
    groups = entity_groups(rng, size["groups"] + size["delta_groups"])
    main, delta = groups[: size["groups"]], groups[size["groups"] :]
    rows = entity_rows(rng, main, "ent-")
    write_corpus(rows, os.path.join(d, "corpus.parquet"))
    write_corpus(entity_rows(rng, delta, "entd-"), os.path.join(d, "delta.parquet"))
    with open(os.path.join(d, "groups.json"), "w") as f:
        json.dump(main, f)
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(expected_answers(rows), f)


MAKERS = {"fresh_build": make_fresh_build, "entity_heavy": make_entity_heavy}


def prepare(root: str, workload: str, seed: int, size: str) -> str:
    """Directory holding the inputs for (workload, seed, size); generated on
    first use.  Generation writes to a temporary name and renames, so a run
    killed mid-generation never leaves a half-written cache entry."""
    d = os.path.join(root, ".bench_cache", f"{workload}-s{seed}-{size}")
    if os.path.isfile(os.path.join(d, "expected.json")):
        return d
    tmp = f"{d}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    MAKERS[workload](tmp, seed, SIZES[workload][size])
    os.replace(tmp, d)
    return d
