"""Correctness gates: each checks one build's output against answers the
benchmark knows independently of Spark (the pure-Python reference extractor
and the generator's ground truth).  A gate returns a list of failure
messages; an empty list is a pass.

The checks are pure functions over plain Python data so the benchmark's own
tests can feed them deliberately corrupted outputs; the ``*_from_output``
helpers read a build's parquet tables into that data.
"""

from __future__ import annotations

import os
import random

import pyarrow.compute as pc
import pyarrow.dataset as ds

from node_feedparser_spark.reference_extract import extract_corpus

TRIPLE_KEY = ("conv_id", "turn_idx", "subj", "pred", "obj")
#: conversations compared triple-for-triple against the reference per build
SAMPLE_CONVS = 12


def _table(output_dir: str, name: str):
    return ds.dataset(
        os.path.join(output_dir, name), format="parquet", partitioning="hive"
    )


def check_counts(summary: dict, n_turns_out: int, expected: dict) -> list[str]:
    """The build's triple count and its metrics table's distinct-turn count
    equal the reference answers (so they are identical across repetitions)."""
    bad = []
    if summary["n_triples"] != expected["n_triples"]:
        bad.append(
            f"n_triples {summary['n_triples']} != reference {expected['n_triples']}"
        )
    if n_turns_out != expected["n_turns"]:
        bad.append(f"n_turns {n_turns_out} != input {expected['n_turns']}")
    return bad


def turns_from_output(output_dir: str) -> int:
    turns = _table(output_dir, "metrics").to_table(["n_turns"])["n_turns"]
    return int(pc.sum(turns).as_py())


def sample_convs(corpus: str, seed: int, k: int = SAMPLE_CONVS) -> list[str]:
    convs = sorted(set(ds.dataset(corpus).to_table(["conv_id"])["conv_id"].to_pylist()))
    return random.Random(seed).sample(convs, min(k, len(convs)))


def reference_triples(corpus: str, convs: list[str]) -> set[tuple]:
    rows = ds.dataset(corpus).to_table(filter=pc.field("conv_id").isin(convs))
    triples = extract_corpus(rows.to_pylist()).triples
    return {tuple(t[k] for k in TRIPLE_KEY) for t in triples}


def output_triples(output_dir: str, convs: list[str]) -> set[tuple]:
    t = _table(output_dir, "triples").to_table(
        list(TRIPLE_KEY), filter=pc.field("conv_id").isin(convs)
    )
    return set(zip(*(t[k].to_pylist() for k in TRIPLE_KEY)))


def check_triples(got: set[tuple], want: set[tuple]) -> list[str]:
    """Triple precision and recall are both exactly 1.0 on the sample."""
    hit = len(got & want)
    precision = hit / len(got) if got else 1.0
    recall = hit / len(want) if want else 1.0
    if precision == recall == 1.0:
        return []
    return [
        f"sample triples precision {precision:.6f} recall {recall:.6f} "
        f"({len(got - want)} extra, {len(want - got)} missing)"
    ]


def surface_ids_from_output(output_dir: str) -> dict[str, set[int]]:
    t = _table(output_dir, "triples").to_table(["subj", "obj", "subj_id", "obj_id"])
    ids: dict[str, set[int]] = {}
    for s, i in zip(t["subj"].to_pylist(), t["subj_id"].to_pylist()):
        ids.setdefault(s, set()).add(i)
    for s, i in zip(t["obj"].to_pylist(), t["obj_id"].to_pylist()):
        ids.setdefault(s, set()).add(i)
    return ids


def check_entity_groups(
    surface_ids: dict[str, set[int]], groups: list[list[str]]
) -> list[str]:
    """Every generated variant maps to one entity_id, all variants of a
    group map to the same one, and no two groups share one."""
    bad = []
    owner: dict[int, int] = {}
    for g, variants in enumerate(groups):
        ids = set()
        for v in variants:
            if v not in surface_ids:
                bad.append(f"variant {v!r} of group {g} is missing from the triples")
            ids |= surface_ids.get(v, set())
        if len(ids) != 1:
            bad.append(f"group {g} {variants} maps to {len(ids)} entity ids")
        for i in ids:
            if owner.setdefault(i, g) != g:
                bad.append(f"groups {owner[i]} and {g} share entity id {i}")
    return bad
