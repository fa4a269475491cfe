"""Fence matrix of the persisted vector index store
(operators/ivfstore.py), run over both index kinds.

- A standing ``_BUILDING`` (a rebuild crashed mid-write) makes every
  caller refuse: probe, append, compact, stats and a blind rebuild;
  verify reports it.
- A standing ``_COMPACTING`` (a compaction failed mid-swap) makes the
  probe refuse at entry, before any scan is materialised.
- A rebuild that dies before its meta commit leaves ``_BUILDING``
  behind, so its half-written tables are never served under the old
  meta.

The cases only plant files and patch pyspark, so they run against any
implementation of the index functions.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators import pq, similarity
from tests.conftest import SF_SMOKE

KINDS = {
    "ivf": dict(
        build=lambda corpus, path: similarity.build_ivf_index(
            corpus, path, k_clusters=4, max_iter=3
        ),
        probe=similarity.cosine_topk_ivf_index,
        append=similarity.append_to_ivf_index,
        compact=similarity.compact_ivf_index,
        stats=lambda spark, path, corpus: similarity.ivf_index_stats(spark, path),
        verify=similarity.verify_ivf_index,
    ),
    "ivf_pq": dict(
        build=lambda corpus, path: pq.build_ivf_pq_index(
            corpus, path, dim=64, k_clusters=4, m=8, k_codes=16, max_iter=3
        ),
        probe=pq.cosine_topk_ivf_pq,
        append=pq.append_to_ivf_pq_index,
        compact=pq.compact_ivf_pq_index,
        stats=pq.ivf_pq_index_stats,
        verify=pq.verify_ivf_pq_index,
    ),
}


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="module")
def templates(corpus, tmp_path_factory):
    """One healthy index per kind, built once and copied per case."""
    base = tmp_path_factory.mktemp("index_templates")
    for kind, api in KINDS.items():
        api["build"](corpus, str(base / kind))
    return base


@pytest.fixture(params=sorted(KINDS))
def index(request, templates, tmp_path):
    kind = request.param
    path = str(tmp_path / kind)
    shutil.copytree(templates / kind, path)
    return KINDS[kind], path


def _queries(corpus):
    return corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_standing_build_marker_fences_every_caller(spark, corpus, index):
    api, path = index
    open(f"{path}/_BUILDING", "w").close()
    with pytest.raises(RuntimeError, match="_BUILDING"):
        api["probe"](spark, path, _queries(corpus), k=3).collect()
    with pytest.raises(RuntimeError, match="_BUILDING"):
        api["append"](corpus.limit(3), path, batch_id=7)
    with pytest.raises(RuntimeError, match="_BUILDING"):
        api["compact"](spark, path)
    with pytest.raises(RuntimeError, match="_BUILDING"):
        api["stats"](spark, path, corpus).collect()
    with pytest.raises(RuntimeError, match="_BUILDING"):
        api["build"](corpus, path)
    rep = api["verify"](spark, path)
    assert rep["stale_build_marker"] and not rep["consistent"]
    # every refusal backed off: no compaction marker, no append lease
    assert sorted(n for n in os.listdir(path) if n.startswith("_")) == [
        "_BUILDING"
    ]


def test_standing_compaction_marker_refuses_probe_at_entry(
    spark, corpus, index, monkeypatch
):
    api, path = index
    open(f"{path}/_COMPACTING", "w").close()
    scans = []
    real = DataFrame.localCheckpoint

    def counted(self, *args, **kwargs):
        scans.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counted)
    with pytest.raises(RuntimeError, match="_COMPACTING marker"):
        api["probe"](spark, path, _queries(corpus), k=3)
    assert scans == []


def test_build_crash_before_meta_commit_leaves_build_marker(
    spark, corpus, index, monkeypatch
):
    api, path = index
    real = DataFrameWriter.parquet

    def crash_at_meta(self, target, *args, **kwargs):
        if target.endswith("/meta"):
            raise RuntimeError("killed before the meta commit")
        return real(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_at_meta)
    with pytest.raises(RuntimeError, match="before the meta commit"):
        api["build"](corpus.filter(F.col("vec_id") < 300), path)
    monkeypatch.undo()
    assert os.path.exists(f"{path}/_BUILDING")
    with pytest.raises(RuntimeError, match="_BUILDING"):
        api["probe"](spark, path, _queries(corpus), k=3).collect()
    assert api["verify"](spark, path)["stale_build_marker"]
