"""Integrity audit (plans/validate.py): a freshly built KG passes every
check, and each seeded corruption trips exactly the check that owns it."""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from node_feedparser_spark.plans.pipeline import build_kg
from node_feedparser_spark.plans.validate import validate_kg


@pytest.fixture(scope="module")
def kg_dir(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("audit") / "kg")
    build_kg(spark, corpus_path, out, n_buckets=4)
    return out


def _by_name(report):
    return {c["name"]: c for c in report["checks"]}


def _rewrite(kg_copy: str, table: str, mutate) -> None:
    """Read one aggregate table, apply `mutate(pandas_df) -> pandas_df`,
    write it back under the ORIGINAL arrow schema (so a corruption test
    never trips on a dtype artifact of the rewrite itself)."""
    path = os.path.join(kg_copy, table)
    orig = pq.read_table(path)
    pdf = mutate(orig.to_pandas())
    for f in glob.glob(os.path.join(path, "*.parquet")):
        os.remove(f)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=orig.schema, preserve_index=False),
        os.path.join(path, "part-corrupt.parquet"),
    )


@pytest.fixture()
def kg_copy(kg_dir, tmp_path):
    dst = str(tmp_path / "kg")
    shutil.copytree(kg_dir, dst)
    return dst


def test_clean_build_passes_everything(spark, kg_dir):
    report = validate_kg(spark, kg_dir)
    assert report["ok"], report
    assert report["n_fail"] == 0 and report["n_warn"] == 0
    assert report["n_triples"] > 0
    statuses = {c["status"] for c in report["checks"]}
    assert statuses == {"pass"}


def test_split_ingest_passes_structurally(spark, corpus_pdf, tmp_path):
    """After a two-run incremental merge every structural invariant still
    holds; alias ownership may legitimately warn (incremental-ER
    divergence, see tests/test_graph_merge.py) but must not fail."""
    mask = corpus_pdf["conv_id"].map(lambda c: (sum(c.encode()) % 2) == 0)
    out = str(tmp_path / "kg")
    for i, half in enumerate((corpus_pdf[mask], corpus_pdf[~mask])):
        p = str(tmp_path / f"half{i}.parquet")
        half = half.copy()
        half["ts"] = half["ts"].astype("datetime64[us]")
        half.to_parquet(p, index=False)
        build_kg(spark, p, out, n_buckets=4)
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report
    assert report["ok"]
    by = _by_name(report)
    assert by["metrics_reconcile_per_partition"]["status"] == "pass"
    assert by["mention_mass_conserved"]["status"] == "pass"
    assert by["weight_mass_conserved"]["status"] == "pass"


def test_dropped_vertices_break_refs_and_mention_mass(spark, kg_copy):
    _rewrite(kg_copy, "vertices", lambda pdf: pdf.iloc[: len(pdf) // 2])
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["triple_refs_resolve"]["status"] == "fail"
    assert by["edge_refs_resolve"]["status"] == "fail"
    assert by["mention_mass_conserved"]["status"] == "fail"


def test_tampered_metrics_count_is_caught(spark, kg_copy):
    def bump(pdf):
        pdf = pdf.copy()
        pdf.loc[pdf.index[0], "n_triples"] += 1
        return pdf

    _rewrite(kg_copy, "metrics", bump)
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["metrics_reconcile_per_partition"]["status"] == "fail"
    bad = by["metrics_reconcile_per_partition"]["observed"]
    assert len(bad) == 1 and bad[0]["metrics"] == bad[0]["triples"] + 1


def test_duplicated_edge_breaks_pk_and_weight_mass(spark, kg_copy):
    import pandas as pd

    _rewrite(
        kg_copy, "edges",
        lambda pdf: pd.concat([pdf, pdf.iloc[[0]]], ignore_index=True),
    )
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["edges_pk_unique"]["status"] == "fail"
    assert by["weight_mass_conserved"]["status"] == "fail"


def test_foreign_state_hash_is_caught(spark, kg_copy):
    import json

    p = os.path.join(kg_copy, "graph_state.json")
    with open(p) as f:
        state = json.load(f)
    state["partition_hashes"].append("f" * 40)
    with open(p, "w") as f:
        json.dump(state, f)
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["graph_state_matches_metrics"]["status"] == "fail"
    assert by["graph_state_matches_metrics"]["observed"]["state_only"] == [
        "f" * 40
    ]


def test_shared_alias_fails(spark, kg_copy):
    def share(pdf):
        pdf = pdf.copy()
        aliases = list(pdf.loc[pdf.index[0], "aliases"])
        donor = next(
            a for a in pdf.loc[pdf.index[1], "aliases"] if a not in aliases
        )
        pdf.at[pdf.index[0], "aliases"] = aliases + [donor]
        return pdf

    _rewrite(kg_copy, "vertices", share)
    report = validate_kg(spark, kg_copy)
    by = _by_name(report)
    # hardened in round 4: merge_vertices re-emits single-owner alias
    # sets, so a shared alias is always a real corruption -> fail
    assert by["alias_single_owner"]["status"] == "fail"
    assert not report["ok"] and report["n_fail"] == 1


def test_empty_buckets_keep_state_and_metrics_aligned(spark, corpus_pdf, tmp_path):
    """A fresh build and a merge delta of one conversation each leave most
    of the 8 buckets empty; every bucket a run covers still gets a metrics
    row, so graph_state and metrics name the same hashes."""
    corpus = corpus_pdf.assign(ts=corpus_pdf["ts"].astype("datetime64[us]"))
    # the corpus schema: one conversation's all-null columns keep their type
    schema = pa.Table.from_pandas(corpus, preserve_index=False).schema
    out = str(tmp_path / "kg")
    for i, conv in enumerate(sorted(corpus["conv_id"].unique())[:2]):
        p = str(tmp_path / f"one{i}.parquet")
        one = corpus[corpus["conv_id"] == conv]
        pq.write_table(
            pa.Table.from_pandas(one, schema=schema, preserve_index=False), p
        )
        build_kg(spark, p, out, n_buckets=8)
        report = validate_kg(spark, out)
        assert report["ok"], report
        assert _by_name(report)["graph_state_matches_metrics"]["status"] == "pass"
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.count() == 16
    assert metrics.filter("n_turns = 0").count() >= 14
