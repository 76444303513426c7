"""The materialized IVF index: offline-train/online-probe equality with
the inline trained-search path, plus the physical properties that make
the artifact worth persisting — a cell-partitioned layout and dynamic
partition pruning on the probe."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.functions.vectors import cosine
from kafka_go_streamer_spark.operators.ivf_store import (
    build_ivf_index,
    ensure_ivf_index,
    probe_ivf_index_many,
    train_centroids,
    vectors_path,
)
from kafka_go_streamer_spark.operators.kmeans import (
    assign_nearest,
    explode_vectors,
)
from kafka_go_streamer_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


pytestmark = pytest.mark.slow


def _load_emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _qv(spark):
    row = _load_emb(spark).filter(F.col("vec_id") == 0).collect()[0]
    return [float(x) for x in row["embedding"]]


def _panel(emb, ids=(0,)):
    """(q_id, qv) probe panel of the given corpus vectors."""
    return emb.filter(F.col("vec_id").isin(*ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )


def _probe0(spark, base, emb, topk=5, pool=None):
    """vec_id 0 probed as a one-row panel, itself excluded from the
    candidates: [(vec_id, cell, cos_sim)] best-first."""
    not_self = F.col("vec_id") != 0
    rows = probe_ivf_index_many(
        spark, base, _panel(emb), nprobe=2, topk=topk,
        pool=not_self if pool is None else not_self & pool,
    ).collect()
    return [
        (r["vec_id"], r["cell"], r["cos_sim"])
        for r in sorted(rows, key=lambda r: r["rk"])
    ]


def _has_dpp(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "dynamicpruning" in plan.lower()


def test_build_probe_matches_inline_computation(spark, tmp_path):
    """The probe over the PERSISTED index must return exactly what the
    same construction computes inline from the trained assignment —
    round-tripping through parquet changes nothing."""
    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    build_ivf_index(emb, base)
    qv = _qv(spark)

    got = _probe0(spark, base, emb)

    # inline twin: same centroids, same assignment, same probe math
    cents = train_centroids(emb, iters=2)
    assigned = assign_nearest(explode_vectors(emb), cents).select(
        "vec_id", F.col("cid").alias("cell")
    )
    with_cell = emb.join(assigned, "vec_id")
    q = with_cell.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), F.col("cell").alias("qc")
    )
    # rank cells INDEPENDENTLY of the probe under test: centroid cosine
    # vs the query computed from the trained long-form centroids in
    # plain python, so the cell-selection half of the probe is checked
    # against something that shares no code with it
    import math

    by_cid: dict[int, dict[int, float]] = {}
    for r in cents.collect():
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["c"]
    qn = math.sqrt(sum(v * v for v in qv))

    def _cell_cos(d: dict[int, float]) -> float:
        dotp = sum(c * qv[p] for p, c in d.items())
        cc = math.sqrt(sum(c * c for c in d.values()))
        return dotp / (cc * qn)

    ranked = sorted(by_cid, key=lambda cid: (-_cell_cos(by_cid[cid]), cid))
    top_cells = set(ranked[:2])
    assert {cell for (_vid, cell, _sim) in got} <= top_cells
    want = [
        (r["vec_id"], r["cell"], r["cos_sim"])
        for r in with_cell.filter(
            F.col("cell").isin(*top_cells) & (F.col("vec_id") != 0)
        )
        .crossJoin(F.broadcast(q.select("qvec")))
        .select(
            "vec_id",
            "cell",
            stable_round(cosine(F.col("embedding"), F.col("qvec")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(5)
        .collect()
    ]
    assert got == want
    assert len(got) == 5


def test_vectors_layout_partitioned_by_cell(spark, tmp_path):
    """The store must be physically partitioned by cell (one directory
    per cell) — that layout IS the probe's I/O bound."""
    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    build_ivf_index(emb, base)
    cell_dirs = [
        d for d in os.listdir(vectors_path(base)) if d.startswith("cell=")
    ]
    n_cells = (
        spark.read.parquet(vectors_path(base))
        .select("cell")
        .distinct()
        .count()
    )
    assert len(cell_dirs) == n_cells >= 2


def test_probe_plan_uses_dynamic_partition_pruning(spark, tmp_path):
    """The probed cell ids never leave the plan: the broadcast join on
    the partition column must compile to a dynamic-pruning subquery on
    the scan, so only the probed cells' files are read — for a one-row
    panel (the registered store-probe queries, with a candidate pool)
    and for a multi-query panel (the serving path)."""
    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    build_ivf_index(emb, base)
    one = probe_ivf_index_many(
        spark, base, _panel(emb), nprobe=2, topk=5,
        pool=F.col("vec_id") != 0,
    )
    assert _has_dpp(one)
    three = probe_ivf_index_many(
        spark, base, _panel(emb, (0, 7, 42)), nprobe=2, topk=5
    )
    assert _has_dpp(three)
    assert {r["q_id"] for r in three.collect()} == {0, 7, 42}


def test_probe_drops_zero_norm_vectors(spark, tmp_path):
    """A zero-norm stored vector must never appear in the top-k (its
    cosine is NaN, which would otherwise sort above every real score),
    and a zero-norm query gets no rows while the rest of its panel is
    still answered."""
    base = str(tmp_path / "ivf")
    rows = []
    for i in range(10):
        if i == 7:
            vec = [0.0, 0.0, 0.0, 0.0]
        else:
            vec = [float(i + 1), 1.0, 0.5 * i, 0.25]
        rows.append((i, vec))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    build_ivf_index(emb, base)
    panel = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "q_id int, qv array<double>",
    )
    got = probe_ivf_index_many(
        spark, base, panel, nprobe=10, topk=10
    ).collect()
    assert {r["q_id"] for r in got} == {1, 3}
    assert 7 not in {r["vec_id"] for r in got}
    assert all(r["cos_sim"] == r["cos_sim"] for r in got)  # no NaN
    for qid in (1, 3):
        # every non-zero stored vector is served to the real queries
        assert len([r for r in got if r["q_id"] == qid]) == 9


def test_ensure_index_builds_once_and_detects_staleness(
    spark, tmp_path, monkeypatch
):
    """ensure_ivf_index: second call is a pure cache hit (the artifact
    is not rewritten); a changed source fingerprint triggers a rebuild."""
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_IVF_DIR", str(tmp_path / "cache"))
    src = tmp_path / "corpus"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/embeddings.parquet", src / "embeddings.parquet")
    emb = spark.read.parquet(str(src / "embeddings.parquet"))

    base = ensure_ivf_index(emb, str(src))
    marker = os.path.join(vectors_path(base), "_SUCCESS")
    mtime = os.path.getmtime(marker)
    assert ensure_ivf_index(emb, str(src)) == base
    assert os.path.getmtime(marker) == mtime  # untouched: cache hit

    os.utime(src / "embeddings.parquet")  # fingerprint changes
    ensure_ivf_index(emb, str(src))
    assert os.path.getmtime(marker) > mtime  # rebuilt


def test_colliding_index_paths_rebuild(spark, tmp_path, monkeypatch):
    """``a_b/c`` and ``a/b_c`` map to the same index directory; two
    same-size fixtures with the same mtime under them must not share
    an index — the second corpus rebuilds instead of hitting the
    first one's cache."""
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_IVF_DIR", str(tmp_path / "cache"))
    srcs = [tmp_path / "d" / "a_b" / "c", tmp_path / "d" / "a" / "b_c"]
    for src in srcs:
        src.mkdir(parents=True)
        shutil.copy(f"{SF_DIR}/embeddings.parquet", src / "embeddings.parquet")
        os.utime(src / "embeddings.parquet", ns=(10**18, 10**18))
    emb = _load_emb(spark)

    base = ensure_ivf_index(emb, str(srcs[0]), iters=1)
    marker = os.path.join(vectors_path(base), "_SUCCESS")
    mtime = os.stat(marker).st_mtime_ns
    assert ensure_ivf_index(emb, str(srcs[1]), iters=1) == base  # collide
    assert os.stat(marker).st_mtime_ns > mtime  # rebuilt, not a cache hit


def test_index_survives_session_boundary_sf01(spark, tmp_path, monkeypatch):
    """The production lifecycle contract: build the index once at
    sf0.1, then probe it from a FRESH session (new session state — no
    temp views, caches, or session confs from the build survive) and
    assert the probe still answers AND still compiles to a
    dynamically-pruned scan of the persisted store."""
    monkeypatch.setenv("SPARK_GRAFT_IVF_DIR", str(tmp_path / "cache"))
    sf_dir = "/root/testdata/sf0.1"
    emb = load_table(spark, sf_dir, "embeddings")
    base = ensure_ivf_index(emb, sf_dir)

    fresh = spark.newSession()
    df = probe_ivf_index_many(
        fresh, base, _panel(load_table(fresh, sf_dir, "embeddings")),
        nprobe=2, topk=5, pool=F.col("vec_id") != 0,
    )
    assert _has_dpp(df)
    got = sorted(df.collect(), key=lambda r: r["rk"])
    assert len(got) == 5
    # scores are real cosines, best-first
    sims = [r["cos_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_append_folds_new_vectors_into_stored_cells(spark, tmp_path):
    """Incremental append: new vectors must land in the cell their
    nearest STORED centroid defines (no retraining), the store must
    grow to the union, and a probe over the appended index must equal
    the same probe math computed inline over the full vector set with
    the stored quantizer."""
    from kafka_go_streamer_spark.operators.ivf_store import (
        append_to_ivf_index,
        centroids_path,
    )

    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    build_ivf_index(old, base)
    append_to_ivf_index(spark, base, new)

    vecs = spark.read.parquet(vectors_path(base))
    assert vecs.count() == emb.count()

    # appended rows sit exactly where the stored quantizer puts them
    cents = spark.read.parquet(centroids_path(base))
    want_cells = {
        r["vec_id"]: r["cid"]
        for r in assign_nearest(explode_vectors(new), cents).collect()
    }
    got_cells = {
        r["vec_id"]: r["cell"]
        for r in vecs.filter(F.col("vec_id") >= 300).collect()
    }
    assert got_cells == want_cells

    # probe over the appended store == inline scoring of ALL vectors
    # restricted to the probed cells (same centroids, same math)
    got = _probe0(spark, base, emb)
    top_cells = {cell for (_vid, cell, _sim) in got}
    all_cells = {
        r["vec_id"]: r["cid"]
        for r in assign_nearest(explode_vectors(emb), cents).collect()
    }
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            stable_round(
                cosine(F.col("embedding"), F.col("qvec")), 6
            ).alias("cos_sim"),
        )
        .collect()
    )
    want = sorted(
        (
            (r["vec_id"], all_cells[r["vec_id"]], r["cos_sim"])
            for r in scored
            if all_cells[r["vec_id"]] in top_cells
        ),
        key=lambda t: (-t[2], t[0]),
    )[:5]
    assert got == want


def test_replayed_append_never_serves_duplicate_ids(spark, tmp_path):
    """At-least-once ingest defense: append the SAME batch twice (a
    replayed micro-batch) and the probe must still serve each
    vec_id at most once, with the same result set as the single-append
    store — the dedup lives in the serving path, not the writer."""
    from kafka_go_streamer_spark.operators.ivf_store import (
        append_to_ivf_index,
    )

    base = str(tmp_path / "ivf")
    emb = _load_emb(spark)
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    build_ivf_index(old, base)
    append_to_ivf_index(spark, base, new)
    before = _probe0(spark, base, emb)

    append_to_ivf_index(spark, base, new)  # the replay
    vecs = spark.read.parquet(vectors_path(base))
    assert vecs.count() > emb.count()  # store really does hold dups

    after = _probe0(spark, base, emb)
    assert after == before
    ids = [v for v, _, _ in after]
    assert len(ids) == len(set(ids))

    # a multi-query panel without a pool dedups per query too
    many = probe_ivf_index_many(
        spark, base, _panel(emb, (0, 7, 42)), nprobe=2, topk=5
    ).collect()
    for qid in (0, 7, 42):
        many_ids = [r["vec_id"] for r in many if r["q_id"] == qid]
        assert len(many_ids) == len(set(many_ids)) == 5


def test_ensure_with_append_builds_once_and_appends_once(
    spark, tmp_path, monkeypatch
):
    """The build+append pair must run exactly once per fingerprint: a
    second ensure call is a pure read (same file set, same row count —
    a re-run append would double the held-out slice), and the merged
    store holds resident + appended with appended rows assigned to
    stored cells."""
    from kafka_go_streamer_spark.operators.ivf_store import (
        ensure_ivf_index_with_append,
    )

    monkeypatch.setenv("SPARK_GRAFT_IVF_DIR", str(tmp_path / "cache"))
    emb = _load_emb(spark)
    resident = emb.filter(F.col("vec_id") % 10 != 7)
    arriving = emb.filter(F.col("vec_id") % 10 == 7)
    base = ensure_ivf_index_with_append(
        resident, arriving, SF_DIR, tag="append", iters=2
    )
    vecs = spark.read.parquet(vectors_path(base))
    n_total = emb.count()
    assert vecs.count() == n_total
    # training re-keys the holdout-holed resident ids, so the quantizer
    # seeds the FULL k = ceil(sqrt(n_resident)) (Lloyd may drop a few
    # emptied cells, never ~10% of them as raw sparse-id seeding would)
    import math
    k = math.ceil(math.sqrt(resident.count()))
    n_cells = vecs.select("cell").distinct().count()
    assert n_cells > 0.95 * k, (n_cells, k)
    assert (
        vecs.filter(F.col("vec_id") % 10 == 7).count()
        == arriving.count()
    )
    files_before = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(vectors_path(base))
        for f in fs
    )
    base2 = ensure_ivf_index_with_append(
        resident, arriving, SF_DIR, tag="append", iters=2
    )
    assert base2 == base
    files_after = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(vectors_path(base))
        for f in fs
    )
    assert files_after == files_before
    assert spark.read.parquet(vectors_path(base)).count() == n_total


def test_probe_pool_restricts_candidates_not_cells(spark, tmp_path):
    """`pool=` filters the CANDIDATE set only: every returned id
    satisfies the predicate, and the probed cells (cell ranking) are
    unchanged — the pooled results are a subset of the unpooled
    candidate cells."""
    emb = _load_emb(spark)
    base = str(tmp_path / "ivf")
    build_ivf_index(emb, base, iters=2)
    pooled = _probe0(spark, base, emb, pool=F.col("vec_id") % 10 == 7)
    assert pooled, "pool filter returned nothing"
    assert all(vid % 10 == 7 for vid, _, _ in pooled)
    full_cells = {cell for _, cell, _ in _probe0(spark, base, emb, topk=1000)}
    assert {cell for _, cell, _ in pooled} <= full_cells
