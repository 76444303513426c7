"""Online ANN serving: the streaming probe loop over the persisted IVF
index must return, per streamed query vector, exactly the batch
multi-query probe's answer — and a panel's per-query answers must not
depend on which other queries share the panel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_go_streamer_spark.operators.ivf_store import (
    build_ivf_index,
    probe_ivf_index_many,
)
from kafka_go_streamer_spark.sources.tables import load_table


pytestmark = pytest.mark.slow


@pytest.fixture()
def index_base(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    base = str(tmp_path / "ivf")
    build_ivf_index(emb, base, iters=1)
    return base


def _query_panel(spark, sf_dir, ids):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id").isin(*ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )


def test_multi_probe_matches_single_probe(spark, sf_dir, index_base):
    """Batching independence: each query of a three-query panel gets
    exactly the answer it gets probed alone as a one-row panel."""
    ids = [0, 7, 42]

    def answers(panel):
        return {
            (r["q_id"], r["rk"]): (r["vec_id"], r["cell"], r["cos_sim"])
            for r in probe_ivf_index_many(spark, index_base, panel).collect()
        }

    many = answers(_query_panel(spark, sf_dir, ids))
    single = {}
    for qid in ids:
        single.update(answers(_query_panel(spark, sf_dir, [qid])))
    assert many == single
    assert len(single) == 5 * len(ids)


def test_streaming_serving_matches_batch_probe(
    spark, sf_dir, index_base, tmp_path
):
    from kafka_go_streamer_spark.streaming.joins import serve_ann_stream

    ids_b1, ids_b2 = [0, 7], [42]
    feed = tmp_path / "queries"
    feed.mkdir()
    _query_panel(spark, sf_dir, ids_b1).coalesce(1).write.parquet(
        str(feed / "_stage1")
    )
    schema = spark.read.parquet(str(feed / "_stage1")).schema
    import shutil

    def promote(stage):
        src = next((feed / stage).glob("*.parquet"))
        shutil.copy(src, feed / f"{stage.strip('_')}.parquet")

    promote("_stage1")
    stream = spark.readStream.schema(schema).parquet(
        str(feed) + "/*.parquet"
    )
    out = str(tmp_path / "results")
    q = serve_ann_stream(
        spark, index_base, stream, out, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        _query_panel(spark, sf_dir, ids_b2).coalesce(1).write.parquet(
            str(feed / "_stage2")
        )
        promote("_stage2")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["q_id"], r["rk"]): (r["vec_id"], r["cos_sim"])
        for r in spark.read.parquet(out).collect()
    }
    panel = _query_panel(spark, sf_dir, ids_b1 + ids_b2)
    want = {
        (r["q_id"], r["rk"]): (r["vec_id"], r["cos_sim"])
        for r in probe_ivf_index_many(spark, index_base, panel).collect()
    }
    assert got == want
    assert len({q for q, _ in got}) == 3  # all streamed queries answered


def test_streaming_ingest_matches_batch_append(spark, sf_dir, tmp_path):
    """Streaming index ingest (ingest_ann_stream) must leave the store
    in exactly the state a batch append leaves it in — same rows, same
    cell assignments — regardless of how the arrivals are batched."""
    import shutil

    from kafka_go_streamer_spark.operators.ivf_store import (
        append_to_ivf_index,
        build_ivf_index,
        vectors_path,
    )
    from kafka_go_streamer_spark.streaming.joins import ingest_ann_stream

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 300)
    new1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    new2 = emb.filter(F.col("vec_id") >= 400)

    base_s = str(tmp_path / "ivf_stream")
    base_b = str(tmp_path / "ivf_batch")
    build_ivf_index(old, base_s, iters=1)
    build_ivf_index(old, base_b, iters=1)

    # batch reference: both arrivals appended directly
    append_to_ivf_index(spark, base_b, new1)
    append_to_ivf_index(spark, base_b, new2)

    # streaming: the same arrivals as two file-source micro-batches
    feed = tmp_path / "arrivals"
    feed.mkdir()
    new1.coalesce(1).write.parquet(str(feed / "_stage1"))
    schema = spark.read.parquet(str(feed / "_stage1")).schema

    def promote(stage):
        src = next((feed / stage).glob("*.parquet"))
        shutil.copy(src, feed / f"{stage.strip('_')}.parquet")

    promote("_stage1")
    stream = spark.readStream.schema(schema).parquet(str(feed) + "/*.parquet")
    q = ingest_ann_stream(spark, base_s, stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        new2.coalesce(1).write.parquet(str(feed / "_stage2"))
        promote("_stage2")
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot(base):
        return {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(vectors_path(base)).collect()
        }

    assert snapshot(base_s) == snapshot(base_b)
    assert len(snapshot(base_s)) == emb.count()


def test_ingest_then_serve_closed_loop(spark, sf_dir, tmp_path):
    """The full online loop against ONE store: build offline, stream
    new vectors in (ingest_ann_stream), then stream queries against
    the same index (serve_ann_stream) — served answers must rank the
    freshly ingested vectors, proving ingest->probe visibility without
    any rebuild between."""
    import shutil

    from kafka_go_streamer_spark.operators.ivf_store import (
        build_ivf_index,
        probe_ivf_index_many,
    )
    from kafka_go_streamer_spark.streaming.joins import (
        ingest_ann_stream,
        serve_ann_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 300), base, iters=1)

    # ingest the remaining vectors as one micro-batch
    vfeed = tmp_path / "vfeed"
    vfeed.mkdir()
    new = emb.filter(F.col("vec_id") >= 300)
    new.coalesce(1).write.parquet(str(tmp_path / "vstage"))
    shutil.copy(
        next((tmp_path / "vstage").glob("*.parquet")), vfeed / "v1.parquet"
    )
    vstream = spark.readStream.schema(new.schema).parquet(str(vfeed))
    qi = ingest_ann_stream(spark, base, vstream, str(tmp_path / "ickpt"))
    try:
        qi.processAllAvailable()
    finally:
        qi.stop()

    # serve queries against the now-appended store
    panel = _query_panel(spark, sf_dir, [0, 350])
    qfeed = tmp_path / "qfeed"
    qfeed.mkdir()
    panel.coalesce(1).write.parquet(str(tmp_path / "qstage"))
    shutil.copy(
        next((tmp_path / "qstage").glob("*.parquet")), qfeed / "q1.parquet"
    )
    qstream = spark.readStream.schema(panel.schema).parquet(str(qfeed))
    out = str(tmp_path / "served")
    qs = serve_ann_stream(spark, base, qstream, out, str(tmp_path / "sckpt"))
    try:
        qs.processAllAvailable()
    finally:
        qs.stop()

    served = spark.read.parquet(out)
    got = {
        (r["q_id"], r["rk"]): (r["vec_id"], r["cos_sim"])
        for r in served.collect()
    }
    want = {
        (r["q_id"], r["rk"]): (r["vec_id"], r["cos_sim"])
        for r in probe_ivf_index_many(spark, base, panel).collect()
    }
    assert got == want
    # the appended half is actually served: querying an ingested
    # vector's own embedding must surface ingested neighbors or itself
    assert any(
        vid >= 300 for (q, _rk), (vid, _s) in got.items() if q == 350
    )
