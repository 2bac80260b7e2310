"""End-to-end streaming curation across BOTH sink families (r9 verdict
item 6): one ingest stream feeds the near-dup signature store, each
trigger's surviving keepers feed the streaming IVF index sink, and the
final index must equal the BATCH pipeline (minhash_lsh_pairs →
connected_components keepers → ivf_topk) over the same corpus — across
planted in-batch and cross-batch duplicate cliques, a doc-level
redelivery, a crash BETWEEN the two sinks' commits, a full replay of a
fully-committed batch, and compaction of both stores.

This is the LLM-pipeline analog of apps.py's composed warehouse jobs:
the two sinks were each stream≡batch-tested in isolation
(tests/test_incremental_dedup.py, tests/test_streaming_ivf.py); here
the HANDOFF is under test — the keeper stage consumes the near-dup
sink's per-batch pairs output, so a crash after sink 1's commit but
before sink 2's must replay into "skip sink 1, recompute keepers from
its committed pairs, run sink 2" without loss or duplication.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from rt_bigdata_spark.operators.dedup import minhash_lsh_pairs
from rt_bigdata_spark.operators.graph import connected_components
from rt_bigdata_spark.operators.similarity import _ivf_centroids, ivf_topk
from rt_bigdata_spark.sources.tables import load_table
from rt_bigdata_spark.streaming.sinks import (
    _fs_committed_ids,
    compact_dedup_store,
    ivf_index_maintenance_sink,
    ivf_topk_streamed,
    near_dup_batch_keepers,
    near_dup_maintenance_sink,
)
from tests.conftest import SF_DIR

# Heavy tier (r10 verdict item 6): excluded from the <5 min inner
# loop (`pytest -m "not slow"`); the full suite still runs once per
# round and in any timing-isolated window.
pytestmark = pytest.mark.slow


N_DOCS = 48


def _text(i: int) -> str:
    # disjoint per-doc vocabulary: the ONLY near-dup pairs are the
    # planted identical-text copies (deterministic clique topology, so
    # the incremental drop rule and batch CC agree by construction)
    return " ".join(f"w{i}x{j}" for j in range(12))


def _base_id(doc_id: int) -> int:
    return doc_id % 1000


@pytest.fixture(scope="module")
def vectors(spark):
    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") < N_DOCS)
        .select("vec_id", "embedding")
        .collect()
    )
    return {int(r.vec_id): [float(x) for x in r.embedding] for r in rows}


def _docs_df(spark, ids):
    return spark.createDataFrame(
        [(i, _text(_base_id(i))) for i in ids], "doc_id: long, text: string"
    )


def _vecs_df(spark, vectors, ids):
    return spark.createDataFrame(
        [(i, vectors[_base_id(i)]) for i in ids],
        "vec_id: long, embedding: array<float>",
    )


def _keepers_of_batch(spark, pairs_dir: str, batch_ids: list[int], batch_id: int) -> list[int]:
    """The keeper stage between the two sinks — the library's
    ``near_dup_batch_keepers`` (reads only sink 1's committed pairs, so
    it is replay-deterministic by construction)."""
    kept = near_dup_batch_keepers(
        spark, pairs_dir, _docs_df(spark, batch_ids), batch_id
    )
    return sorted(int(r.doc_id) for r in kept.collect())


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_streaming_curation_chain_equals_batch_pipeline(spark, vectors, tmp_path):
    nd_state = str(tmp_path / "nd_state")
    pairs_dir = str(tmp_path / "nd_pairs")
    ivf_state = str(tmp_path / "ivf")

    cents = _ivf_centroids(
        _vecs_df(spark, vectors, list(range(N_DOCS))), "vec_id", "embedding", 8
    )
    nd_sink = near_dup_maintenance_sink(nd_state, pairs_dir)
    ivf_sink = ivf_index_maintenance_sink(ivf_state, cents)

    # ingest plan: planted dup cliques (copy id = base + 1000k, identical
    # text AND vector), one doc-level redelivery (5), arrival ascending
    batches = {
        0: list(range(0, 16)),
        # cross-batch dups of 3, in-batch dup of 17
        1: list(range(16, 32)) + [1003, 2003, 1017],
        # later dup of 17, in-batch clique around 29, redelivered 5
        2: list(range(32, 48)) + [2017, 1029, 2029, 5],
    }

    kept_stream: set[int] = set()

    def run_trigger(b: int, crash_before_ivf: bool = False) -> None:
        ids = batches[b]
        nd_sink(_docs_df(spark, ids), b)
        if crash_before_ivf:
            return  # crash in the gap BETWEEN the two sinks' commits
        keepers = _keepers_of_batch(spark, pairs_dir, ids, b)
        kept_stream.update(keepers)
        ivf_sink(_vecs_df(spark, vectors, keepers), b)

    run_trigger(0)
    run_trigger(1, crash_before_ivf=True)
    # replay of batch 1 after the gap crash: sink 1 fence-skips (its
    # receipt exists), the keeper stage re-reads sink 1's committed
    # pairs, sink 2 processes the batch for the first time
    run_trigger(1)
    run_trigger(2)
    # full replay of a fully-committed batch: both sinks fence-skip
    # (the redelivered doc 5 re-enters the keeper set — its pair-less
    # by construction — and sink 2's doc-level anti-join absorbs it)
    run_trigger(2)

    # ---- batch ground truth over the same corpus (no redelivery) ----
    all_ids = sorted({i for ids in batches.values() for i in ids})
    docs = _docs_df(spark, all_ids)
    pairs = minhash_lsh_pairs(docs)
    labeled = connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
    )
    keepers_batch = sorted(
        int(r.node) for r in labeled.filter(F.col("node") == F.col("label")).collect()
    )
    assert keepers_batch == list(range(N_DOCS))  # every planted dupe dropped
    assert sorted(kept_stream) == keepers_batch

    # ---- the headline equality: streamed index ≡ batch pipeline ----
    queries = _vecs_df(spark, vectors, [0, 1, 2])
    keeper_vecs = _vecs_df(spark, vectors, keepers_batch)
    want = ivf_topk(keeper_vecs, queries, k=5, n_centroids=8, centroids=cents)
    got = ivf_topk_streamed(spark, ivf_state, queries, cents, k=5)
    assert _rows(got) == _rows(want)

    # no duplicate ids leaked into the index (the redelivery + the
    # planted copies all carry a base vector that WOULD surface in
    # top-k under its copy id if the chain leaked it)
    stored = spark.read.option("basePath", ivf_state).parquet(
        *[os.path.join(ivf_state, f"batch={i}") for i in _fs_committed_ids(spark, ivf_state, "batch=")]
    )
    assert stored.count() == stored.select("neighbor_id").distinct().count() == N_DOCS

    # ---- compaction of BOTH stores changes no answers ----
    assert compact_dedup_store(spark, nd_state, keep_last=1) is not None
    assert compact_dedup_store(spark, ivf_state, keep_last=1) is not None
    assert _rows(ivf_topk_streamed(spark, ivf_state, queries, cents, k=5)) == _rows(want)
    # and the signature store still fences a replay after compaction:
    # batch 2's receipt survives the fold, so re-running the trigger
    # (both sinks) remains a no-op
    run_trigger(2)
    assert _rows(ivf_topk_streamed(spark, ivf_state, queries, cents, k=5)) == _rows(want)
