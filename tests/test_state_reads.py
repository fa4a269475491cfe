"""Fault injection over every stateful read (functions/generations.read_state).

Each site reads one state directory. The matrix puts that directory in
four conditions:

- missing: the site sees "no state yet" (an empty frame of its schema,
  or the site's first-run result);
- ``_SUCCESS`` only, what a zero-row ``partitionBy`` write leaves: the
  same as missing;
- an empty directory without ``_SUCCESS``: the site raises;
- every data part overwritten with garbage: the site raises, and no
  file under the site's state and sinks changes.

Two sites differ. A missing text-index table is a never-built index
and raises. Compaction runs beside the stream, whose first write leaves
a directory without ``_SUCCESS`` until it commits, so the compactor
folds nothing there instead of raising.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from finance_etl_system_spark.operators import similarity, textindex
from finance_etl_system_spark.pipeline import rollup
from finance_etl_system_spark.sources import export
from finance_etl_system_spark.streaming import (
    boilerplate,
    chunkgate,
    classifier,
    compaction,
    dedup,
    drift,
    mixture,
)


def _docs(spark, first_id=1):
    """Three documents whose words depend on their ids, so batches with
    different ids share no near-duplicates."""
    return spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 131 + j * 17) % 9973}" for j in range(16)))
            for i in range(first_id, first_id + 3)
        ],
        "doc_id long, text string",
    )


def _events(spark):
    """Three events of one day (one partition of the log)."""
    return spark.createDataFrame(
        [(i, f"2024-01-01 1{i}:00:00", "click", 1.5 * i) for i in range(3)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))


def _write_partitions(spark, path, rows, ddl):
    """State as the gates write it: one part per batch_id partition."""
    spark.createDataFrame(rows, ddl).repartition("batch_id").write.mode(
        "append"
    ).partitionBy("batch_id").parquet(path)


def _sig_state(spark, path, batch_ids):
    _write_partitions(
        spark, path, [(10 * b + 1, [b, 7], b) for b in batch_ids],
        "id bigint, sig array<bigint>, batch_id int",
    )


def _empty(spark, df, ddl):
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert df.count() == 0


class Site:
    """One stateful read: ``state`` is its directory under the site
    root; ``build`` writes valid state (and whatever else the site
    needs) under the root; ``read`` runs the site and checks its
    "no state yet" result; ``run`` runs the site end to end, the call
    that must raise on unreadable state."""

    missing_raises = False
    uncommitted_raises = True

    def build(self, spark, root): ...

    def read(self, spark, root): ...

    def run(self, spark, root): ...


class DedupState(Site):
    state = "state"

    def build(self, spark, root):
        _sig_state(spark, f"{root}/state", [0])

    def read(self, spark, root):
        _empty(spark, dedup._load_state(spark, f"{root}/state"), dedup._SIG_SCHEMA)

    def run(self, spark, root):
        dedup.dedup_increment_batch(
            _docs(spark, 10), 1, f"{root}/verd", f"{root}/state"
        )


class ChunkState(Site):
    state = "state"

    def build(self, spark, root):
        _write_partitions(
            spark, f"{root}/state", [("a1", 0), ("b2", 0)],
            "chunk_hash string, batch_id int",
        )

    def read(self, spark, root):
        got = chunkgate._load_chunk_state(
            spark, f"{root}/state", exclude_batch_id=1
        )
        _empty(spark, got, "chunk_hash string")

    def run(self, spark, root):
        chunkgate.chunk_gate_batch(
            _docs(spark, 10), 1, f"{root}/kept", f"{root}/rej", f"{root}/state"
        )


class BoilerplateCounts(Site):
    state = "counts"

    def build(self, spark, root):
        boilerplate.boilerplate_increment_batch(
            _docs(spark), 0, f"{root}/verd", f"{root}/counts"
        )

    def read(self, spark, root):
        got = boilerplate._load_counts(spark, f"{root}/counts")
        _empty(spark, got, boilerplate._COUNT_SCHEMA)

    def run(self, spark, root):
        boilerplate.boilerplate_increment_batch(
            _docs(spark, 10), 1, f"{root}/verd", f"{root}/counts"
        )


class MixtureKept(Site):
    state = "kept"
    kw = dict(
        group_col="source",
        weight_col="w",
        order_col="doc_id",
        tiebreak_col="doc_id",
        budgets={"web": 100},
    )

    @staticmethod
    def _batch(spark, first_id):
        return spark.createDataFrame(
            [(first_id + i, "web", 5) for i in range(3)],
            "doc_id long, source string, w long",
        )

    def build(self, spark, root):
        mixture.mixture_increment_batch(
            self._batch(spark, 1), 0, f"{root}/kept", **self.kw
        )

    def read(self, spark, root):
        got = mixture._load_kept(spark, f"{root}/kept", "source", "w")
        _empty(spark, got, "source string, w bigint, batch_id int")

    def run(self, spark, root):
        mixture.mixture_increment_batch(
            self._batch(spark, 10), 1, f"{root}/kept", **self.kw
        )


class DriftCounts(Site):
    state = "counts"
    edges = [1.0, 2.0]
    fracs = {1: 0.3, 2: 0.4, 3: 0.3}

    def _batch(self, spark, batch_id, root):
        drift.drift_monitor_batch(
            spark.createDataFrame([(0.5,), (1.5,), (2.5,)], "v double"),
            batch_id,
            value_col="v",
            edges=self.edges,
            ref_fracs=self.fracs,
            counts_dir=f"{root}/counts",
            verdict_dir=f"{root}/verd",
        )

    def build(self, spark, root):
        self._batch(spark, 0, root)

    def read(self, spark, root):
        self._batch(spark, 1, root)
        [v] = spark.read.parquet(f"{root}/verd").filter("batch_id = 1").collect()
        assert v.n_total == v.n_batch == 3  # cumulative = this batch alone

    def run(self, spark, root):
        self._batch(spark, 1, root)


class ClassifierSink(Site):
    state = "kept"

    def build(self, spark, root):
        for sink, n in (("kept", 2), ("rej", 1)):
            spark.range(n).select(
                F.col("id").alias("doc_id"), F.lit(0).alias("batch_id")
            ).coalesce(1).write.partitionBy("batch_id").parquet(f"{root}/{sink}")

    def read(self, spark, root):
        got = classifier.classifier_gate_audit(spark, f"{root}/kept", f"{root}/rej")
        assert [tuple(r) for r in got.collect()] == [(0, 1, 0, 1, 0.0)]

    def run(self, spark, root):
        classifier.classifier_gate_audit(spark, f"{root}/kept", f"{root}/rej").collect()


class CompactionState(Site):
    """The compactor runs beside the stream, so a store with no commit
    yet (the first write still in flight) has nothing to fold."""

    state = "state"
    uncommitted_raises = False

    def build(self, spark, root):
        _sig_state(spark, f"{root}/state", [0, 1])

    def read(self, spark, root):
        assert compaction.compact_sig_state(spark, f"{root}/state", keep_last=0) == 0

    def run(self, spark, root):
        compaction.compact_sig_state(spark, f"{root}/state", keep_last=0)


class RollupEvents(Site):
    state = "events"

    def build(self, spark, root):
        rollup.rollup_batch(_events(spark), f"{root}/events", f"{root}/rollup")

    def read(self, spark, root):
        rollup.rollup_batch(_events(spark), f"{root}/events", f"{root}/rollup")
        assert spark.read.parquet(f"{root}/events").count() == 3

    def run(self, spark, root):
        # a replay of the seeded batch: the dedup must see the log, or
        # it appends every event a second time
        rollup.rollup_batch(_events(spark), f"{root}/events", f"{root}/rollup")


class ExportMeta(Site):
    state = "exp/meta"

    def build(self, spark, root):
        docs = _docs(spark).withColumn("doc_id", F.col("doc_id").cast("string"))
        export.write_jsonl_shards(docs, f"{root}/exp", n_shards=2)

    def read(self, spark, root):
        got = export.read_jsonl_shards(spark, f"{root}/exp")
        assert got.schema["id"].dataType.simpleString() == "bigint"

    def run(self, spark, root):
        export.read_jsonl_shards(spark, f"{root}/exp").collect()


class TextIndexMeta(Site):
    state = "idx/meta"

    def build(self, spark, root):
        textindex.build_text_index(_docs(spark), f"{root}/idx")

    def read(self, spark, root):
        assert textindex._read_meta(spark, f"{root}/idx") is None

    def run(self, spark, root):
        textindex.append_to_text_index(_docs(spark, 10), f"{root}/idx")


class TextIndexTable(Site):
    state = "idx/postings"
    missing_raises = True

    def build(self, spark, root):
        textindex.build_text_index(_docs(spark), f"{root}/idx")

    def read(self, spark, root):
        got = textindex._read_index_table(
            spark, f"{root}/idx/postings", textindex._POSTINGS_SCHEMA
        )
        _empty(spark, got, textindex._POSTINGS_SCHEMA)
        assert textindex.bm25_search_index(spark, f"{root}/idx", ["fox"]).count() == 0

    def run(self, spark, root):
        textindex.bm25_search_index(spark, f"{root}/idx", ["fox"]).collect()


class IvfMeta(Site):
    state = "ivf/meta"

    @staticmethod
    def _vectors(spark):
        rng = np.random.default_rng(7)
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)]) for i in range(24)],
            "vec_id long, embedding array<double>",
        )

    def _probe(self, spark, root):
        q = self._vectors(spark).limit(2).withColumnRenamed("vec_id", "query_id")
        return similarity.cosine_topk_ivf_index(
            spark, f"{root}/ivf", q, k=3, nprobe=2
        )

    def build(self, spark, root):
        similarity.build_ivf_index(
            self._vectors(spark), f"{root}/ivf", k_clusters=2, max_iter=3
        )

    def read(self, spark, root):
        # no meta: the probe takes the pre-meta path and infers the id
        # column, which the batch_id partition column makes ambiguous
        with pytest.raises(ValueError, match="no meta table"):
            self._probe(spark, root)

    def run(self, spark, root):
        self._probe(spark, root).collect()


SITES = [
    DedupState(),
    ChunkState(),
    BoilerplateCounts(),
    MixtureKept(),
    DriftCounts(),
    ClassifierSink(),
    CompactionState(),
    RollupEvents(),
    ExportMeta(),
    TextIndexMeta(),
    TextIndexTable(),
    IvfMeta(),
]
_IDS = [type(s).__name__ for s in SITES]


@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory):
    """Each site's valid state, built once and copied per case."""
    base = tmp_path_factory.mktemp("state_templates")
    for site in SITES:
        site.build(spark, str(base / type(site).__name__))
    return base


def _root(templates, site, tmp_path):
    root = str(tmp_path / "root")
    shutil.copytree(templates / type(site).__name__, root)
    return root


def _snapshot(root):
    return {
        f: open(f, "rb").read()
        for f in glob.glob(f"{root}/**", recursive=True)
        if os.path.isfile(f)
    }


def _corrupt_parts(state_dir):
    parts = glob.glob(f"{state_dir}/**/*.parquet", recursive=True)
    assert parts
    for part in parts:
        with open(part, "wb") as fh:
            fh.write(b"this is not parquet")
        crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


@pytest.mark.parametrize("site", SITES, ids=_IDS)
def test_missing_state_is_empty(spark, templates, site, tmp_path):
    root = _root(templates, site, tmp_path)
    shutil.rmtree(f"{root}/{site.state}")
    if site.missing_raises:
        with pytest.raises(FileNotFoundError):
            site.run(spark, root)
    else:
        site.read(spark, root)


@pytest.mark.parametrize("site", SITES, ids=_IDS)
def test_committed_empty_state_is_empty(spark, templates, site, tmp_path):
    root = _root(templates, site, tmp_path)
    state = f"{root}/{site.state}"
    shutil.rmtree(state)
    os.makedirs(state)
    open(f"{state}/_SUCCESS", "w").close()
    site.read(spark, root)


@pytest.mark.parametrize("site", SITES, ids=_IDS)
def test_empty_dir_without_success_raises(spark, templates, site, tmp_path):
    root = _root(templates, site, tmp_path)
    state = f"{root}/{site.state}"
    shutil.rmtree(state)
    os.makedirs(state)
    before = _snapshot(root)
    if site.uncommitted_raises:
        with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
            site.run(spark, root)
    else:
        site.read(spark, root)
    assert _snapshot(root) == before


@pytest.mark.parametrize("site", SITES, ids=_IDS)
def test_corrupt_part_raises_and_changes_nothing(spark, templates, site, tmp_path):
    root = _root(templates, site, tmp_path)
    _corrupt_parts(f"{root}/{site.state}")
    before = _snapshot(root)
    with pytest.raises(Exception, match="(?i)parquet"):
        site.run(spark, root)
    assert _snapshot(root) == before


def test_compaction_with_marker_but_no_partitions_raises(spark, tmp_path):
    """A generation marker says the store holds compacted state; its
    partitions and ``_SUCCESS`` are gone. That is lost state, not an
    empty store."""
    state = str(tmp_path / "state")
    _sig_state(spark, state, [0, 1, 2])
    assert compaction.compact_sig_state(spark, state) == 2
    assert any(n.startswith("_GEN_") for n in os.listdir(state))
    for name in os.listdir(state):
        if name.startswith("batch_id="):
            shutil.rmtree(f"{state}/{name}")
        elif "_SUCCESS" in name:
            os.remove(f"{state}/{name}")
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        compaction.compact_sig_state(spark, state)
