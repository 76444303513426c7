"""Training-data pipeline operators, wave 3: sequence packing, TF-IDF
term extraction, temperature-scaled mixture sampling, PII redaction,
corpus n-gram statistics, and ANN recall evaluation.

These extend the corpus-preparation family (plans/text.py, plans/dedup.py,
plans/similarity.py) with the remaining steps an LLM data pipeline runs
between "deduped corpus" and "training batches": pack documents into
fixed-token-budget sequences, score/select the mixture, scrub PII, and
quantify how much recall the ANN index trades for its speed.

The reference engine (a per-message Kafka router, SURVEY.md §2) has none
of these; they are north-star extensions and every one is oracle-checked
(the sequence packer against a DuckDB RECURSIVE CTE replaying the same
greedy fold).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions import text as X
from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.functions.vectors import cosine, cosine_sql
from kafka_go_streamer_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
    minhash_lsh_pairs_sql,
    shingles_of,
    shingles_sql,
)
from kafka_go_streamer_spark.functions.text import words
from kafka_go_streamer_spark.operators.iterate import pinned
from kafka_go_streamer_spark.plans.registry import query
from kafka_go_streamer_spark.plans.similarity import PANEL_MAX_ID
from kafka_go_streamer_spark.plans.scale_ops import (
    IVF_CENTROID_IDS,
    _ivf_cells,
    _ivf_cells_sql,
)
from kafka_go_streamer_spark.plans.text import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    PREP_LANG,
    PREP_MIN_ALPHA,
    PREP_MIN_WORDS,
    prep_survivors,
)
from kafka_go_streamer_spark.sources.tables import cpu_fan, fan_out, load_table

#: Token budget of one packed training sequence. Small enough that the
#: testdata's 10-120-token documents pack several to a sequence.
PACK_CAP = 256

#: Width of one packing shard in doc_id space: shard = doc_id div SPAN.
#: A shard holds at most SPAN distinct doc_ids, so the pandas group that
#: reaches the Arrow fold is HARD-bounded regardless of how many
#: documents a source has — no single source ever materializes as one
#: task's group (the 100 TB failure mode of groupBy(source) alone).
#: Sizing: per-GROUP Arrow/pandas overhead is ~6 ms (measured: span 100
#: over sf0.1's 5000 docs made 500 groups and cost 3.0 s vs 0.46 s at
#: span 1000), so the span must keep groups >> that overhead while
#: still bounding memory; 1000 exercises multiple shards at bench
#: scale (and the shard-boundary unit test pins the semantics at any
#: span), production would use ~1e6 (a few hundred MB of (id, token)
#: triples per group).
PACK_SHARD_SPAN = 1000

#: Temperature-mixture target sample size and temperature. 0.7 is the
#: canonical "flatten the source distribution a bit" exponent
#: (multilingual-sampling temperature ~ 1/0.7 ≈ 1.43).
MIX_TOTAL = 200
MIX_ALPHA = 0.7


PACK_SCHEMA = (
    "doc_id bigint, source string, shard bigint, n_tokens int, "
    "seq_id int, seq_offset int"
)


def with_pack_shard(df: DataFrame) -> DataFrame:
    """Attach the packing shard key (integer doc_id-range chunk). Pure
    long arithmetic — no shuffle, no window — and DuckDB's ``//`` on
    BIGINT computes the identical value for the oracle."""
    return df.withColumn("shard", F.expr(f"doc_id div {PACK_SHARD_SPAN}"))


def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """The per-(source, shard) greedy fold (one Arrow batch = one
    group): docs in doc_id order accumulate into the open sequence
    until the next doc would exceed PACK_CAP, which starts a new one.
    seq_id and seq_offset are local to the shard. Pure function of the
    group — safe under Spark task retries."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    seq = 0
    fill = 0
    seq_ids, offsets = [], []
    for i, t in enumerate(pdf["n_tokens"]):
        # mirror the recursive-CTE oracle EXACTLY: after the first doc,
        # a new sequence opens iff fill + t overflows — including from
        # fill == 0 (a zero-token doc chained before an oversized one),
        # where a `fill and ...` guard would silently diverge
        if i > 0 and fill + t > PACK_CAP:
            seq += 1
            fill = 0
        seq_ids.append(seq)
        offsets.append(fill)
        fill += t
    pdf["seq_id"] = seq_ids
    pdf["seq_offset"] = offsets
    return pdf[
        ["doc_id", "source", "shard", "n_tokens", "seq_id", "seq_offset"]
    ]


def fold_packed(df: DataFrame, fold=pack_group) -> DataFrame:
    """Run a per-(source, shard) greedy fold with MANY GROUPS PER TASK:
    hash-partition on the group key, then dispatch the groups of each
    partition through a pandas groupby inside ONE mapInPandas pass.

    ``groupBy(...).applyInPandas`` pays a per-GROUP Arrow dispatch
    (~6 ms measured on this container — the span-100 experiment above);
    at 100 TB the group count is ~corpus/PACK_SHARD_SPAN (millions of
    groups), so that dispatch overhead IS the job. Batching the groups
    per partition makes the Arrow round-trip per-PARTITION while the
    fold itself stays the identical pure per-group function.

    Memory bound: a task materializes one partition = several
    SPAN-bounded groups; partition count is the session's shuffle
    parallelism, which a real cluster sizes so partitions fit executor
    memory — the same contract every shuffle in the engine relies on.
    Correctness does not depend on Arrow batch splitting: the iterator
    spans the whole partition, and rows are re-grouped AFTER
    concatenation, so a group cut across Arrow batches is reassembled
    before the fold sees it."""
    # no explicit partition count: honor spark.sql.shuffle.partitions,
    # the knob a cluster sizes so shuffle partitions fit executor
    # memory — pinning defaultParallelism (core count) here would
    # concentrate 1 TB of triples into ~cores frames regardless of
    # that sizing
    src = df.repartition("source", "shard")

    def per_partition(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        frames = list(it)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if pdf.empty:
            return
        # yield per-GROUP frames: the Arrow writer streams group-sized
        # batches while the input concat is still alive, instead of
        # holding a second partition-sized output frame next to it
        # (which would double peak task memory past the documented
        # one-partition bound)
        for _, g in pdf.groupby(["source", "shard"], sort=False):
            yield fold(g)

    return src.mapInPandas(per_partition, PACK_SCHEMA)


@query(
    "pack_sequences_greedy",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source, doc_id // {PACK_SHARD_SPAN} AS shard,
             {X.token_count_sql('text')} AS n_tokens,
             row_number() OVER (
               PARTITION BY source, doc_id // {PACK_SHARD_SPAN}
               ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             0 AS seq_id, 0 AS seq_offset, n_tokens AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.shard, t.n_tokens, t.rn,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.fill ELSE 0 END,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.fill + t.n_tokens ELSE t.n_tokens END
      FROM packed p
      JOIN toks t ON t.source = p.source AND t.shard = p.shard
                 AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, shard, n_tokens, seq_id, seq_offset FROM packed
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: fold each (source, shard)'s documents
    (in doc_id order) into sequences of at most PACK_CAP tokens — the
    step that turns a deduped corpus into fixed-budget training rows.
    A document that would overflow the open sequence starts the next
    one; an oversized document gets a sequence to itself. seq_id is
    shard-local; (source, shard, seq_id) names a training sequence.

    The fold is inherently sequential per group but embarrassingly
    parallel across groups, which is exactly the applyInPandas
    contract: one shuffle on the group key, then an Arrow-batched
    linear pass per group. The group key is (source, shard) with
    shard = doc_id div PACK_SHARD_SPAN, so one group holds at most
    PACK_SHARD_SPAN docs no matter how large a source is — a hard
    executor-memory bound at 100 TB, where groupBy(source) alone would
    materialize billions of rows in one task. The cost is at most one
    under-filled sequence per shard boundary (amortized ~1/SPAN).
    Token counting stays JVM-side (regexp_count) so Python sees only
    (id, count) triples, never the text. Oracle: a DuckDB RECURSIVE
    CTE replays the identical per-shard fold one rank at a time."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count(F.col("text")).alias("n_tokens")
    )
    return fold_packed(with_pack_shard(d))


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({X.words_sql('text')}) AS term FROM documents
    ),
    t AS (
      SELECT doc_id, term, count(*) AS tf
      FROM w WHERE length(term) >= 3 GROUP BY 1, 2
    ),
    idf AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM t GROUP BY 1),
    n AS (SELECT count(*)::DOUBLE AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, t.tf,
             round(t.tf * ln((n.n + 1.0) / (idf.dfreq + 1.0)), 6) AS tfidf
      FROM t JOIN idf USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (terms of length ≥3) — the
    classic keyword/topic signal for corpus exploration and quality
    audits.

    Scale: explode once; the (doc, term) tf aggregate is map-side
    combinable; the document-frequency table is vocabulary-sized (≪
    corpus) and joins back broadcast; the per-doc top-3 compiles to a
    WindowGroupLimit (partial top-k before the window shuffle). The
    idf ln() is rounded at 6 decimals before ranking so both engines
    rank identical quanta."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    terms = (
        d.select("doc_id", F.explode(X.words(F.col("text"))).alias("term"))
        .filter(F.length("term") >= 3)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    scored = (
        terms.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            stable_round(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("dfreq") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
    )


@query(
    "sample_temperature_mixture",
    oracle=f"""
    WITH sw AS (
      SELECT source, round(pow(sum(n_chars), {MIX_ALPHA}), 6) AS w
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(w) AS tw FROM sw),
    quota AS (
      SELECT source,
             greatest(1, CAST(floor({MIX_TOTAL} * w / tw) AS INTEGER)) AS q
      FROM sw, tot
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quota USING (source)
    WHERE r.rn <= q
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling: each source's share of the
    MIX_TOTAL-document sample is proportional to (its total characters)
    ^ MIX_ALPHA — the standard flattening that keeps small sources
    represented without letting them dominate. Selection within a
    source is deterministic md5-hash rank (no rand(): identical on any
    engine, cluster size, or rerun).

    Scale: two tiny aggregates (source cardinality), quotas broadcast
    back, ONE window shuffle on source to rank-and-cut. At web scale
    the rank becomes a hash-threshold filter (keep md5 < quota/n
    quantile) — no sort at all; the hash-order semantics match."""
    d = load_table(spark, sf_dir, "documents")
    # w is rounded at 6dp on BOTH engines before it reaches the floor()
    # quota boundary: pow() is not guaranteed bit-identical across
    # Spark/DuckDB, and an unrounded w within an ulp of flipping
    # floor(MIX_TOTAL * w / tw) would flip a source's quota (the Q11
    # FP-drift class)
    sw = d.groupBy("source").agg(
        stable_round(F.pow(F.sum("n_chars"), F.lit(MIX_ALPHA)), 6).alias("w")
    )
    tot = sw.agg(F.sum("w").alias("tw"))
    quota = (
        sw.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.greatest(
                F.lit(1),
                F.floor(F.lit(MIX_TOTAL) * F.col("w") / F.col("tw")).cast(
                    "int"
                ),
            ).alias("q"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(quota), "source")
        .filter(F.col("rn") <= F.col("q"))
        .select("doc_id", "source")
    )


#: RE2- and Java-regex-compatible PII patterns (no lookaround, no
#: backreferences — the intersection both engines compile identically).
EMAIL_RE = r"[A-Za-z0-9_.]+@[A-Za-z0-9.]+\.[A-Za-z]+"
PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                THEN ' contact_' || doc_id::VARCHAR || '@example.com'
                ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}'))::INTEGER AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}'))::INTEGER AS n_phones,
           md5(regexp_replace(
                 regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM seeded
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email addresses and phone
    numbers. The synthetic corpus contains no organic PII, so the query
    SEEDS deterministic PII first (an email on every 7th doc, a phone
    on every 5th) — the redaction then provably fires and the md5 of
    the redacted text pins the exact replacement output, not just the
    counts.

    Scale: a pure narrow projection — seeding, counting, and both
    regexp_replace passes are codegen'd JVM expressions in one stage;
    no shuffle, no Python. The patterns stay in the RE2 ∩ Java-regex
    dialect so Spark and DuckDB compile the same automaton."""
    d = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact_"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(seeded, EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(seeded, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(seeded, F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "text_ngram_topk",
    oracle=f"""
    WITH w AS (
      SELECT {X.words_sql('text')} AS ws FROM documents
    ),
    tg AS (
      SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS ngram
      FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 3
    )
    SELECT ngram, count(*) AS cnt
    FROM tg GROUP BY 1
    ORDER BY cnt DESC, ngram ASC
    LIMIT 20
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word trigrams — the n-gram frequency table
    behind boilerplate detection and LM contamination checks,
    restricted to the head.

    Scale: trigrams are generated positionally inside the row (a
    codegen'd transform over the words array — no self-join of
    adjacent tokens), the count is map-side combinable, and the top-20
    compiles to TakeOrderedAndProject. The full n-gram table never
    materializes anywhere."""
    d = load_table(spark, sf_dir, "documents")
    tg = (
        d.select(X.words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3), "
                    "i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                )
            ).alias("ngram")
        )
    )
    return (
        tg.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(20)
    )


@query(
    "ann_recall_multiprobe",
    oracle=f"""
    WITH {_ivf_cells_sql()},
    qs AS (
      SELECT vec_id AS q_id, embedding AS qv
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {PANEL_MAX_ID}
    ),
    gt AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY round({cosine_sql('e.embedding', 'q.qv')}, 6) DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.q_id
      ) WHERE rn <= 10
    ),
    qc AS (
      SELECT q_id, qv, cent_id FROM (
        SELECT q.q_id, q.qv, c.cent_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY round({cosine_sql('c.cv', 'q.qv')}, 6) DESC,
                          c.cent_id ASC) AS rn
        FROM cents c CROSS JOIN qs q
      ) WHERE rn <= 2
    ),
    cand AS (
      SELECT q_id, vec_id FROM (
        SELECT qc.q_id, cl.vec_id,
               row_number() OVER (
                 PARTITION BY qc.q_id
                 ORDER BY round({cosine_sql('cl.embedding', 'qc.qv')}, 6)
                          DESC, cl.vec_id ASC) AS rn
        FROM cells cl JOIN qc ON cl.cell = qc.cent_id
        WHERE cl.vec_id <> qc.q_id
      ) WHERE rn <= 10
    )
    SELECT g.q_id, count(c.vec_id) AS n_hits,
           round(count(c.vec_id) / 10.0, 2) AS recall_at_10
    FROM gt g
    LEFT JOIN cand c ON c.q_id = g.q_id AND c.vec_id = g.vec_id
    GROUP BY 1
    """,
)
def ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the nprobe=2 IVF search against brute-force ground
    truth, for a deterministic query panel (every 100th vector) — the
    eval harness that tells you what the ANN index actually costs in
    quality. This is the measurement loop every production ANN
    deployment runs on a sampled panel after (re)building an index.

    Scale: ground truth is panel × corpus (the panel broadcasts — at
    10^9 vectors you hold the panel at ~100 queries and this is 100
    scans' worth of flops in ONE pass); the IVF side touches only the
    probed cells. Both top-10s use the rounded-cosine + vec_id total
    order so the engines rank identical quanta; the final recall join
    is panel-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = _ivf_cells(spark, sf_dir)
    cents = emb.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PANEL_MAX_ID)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    wq = Window.partitionBy("q_id")
    gt = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "sim"
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    qc = (
        cents.crossJoin(F.broadcast(qs))
        .select(
            "q_id",
            "qv",
            "cent_id",
            stable_round(cosine(F.col("cv"), F.col("qv")), 6).alias("qsim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.col("qsim").desc(), F.col("cent_id").asc())
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("q_id", "qv", "cent_id")
    )
    cand = (
        cells.join(F.broadcast(qc), cells.cell == qc.cent_id)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "sim"
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                wq.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            ),
        )
        .filter(F.col("rn") <= 10)
        # rename BOTH join keys: gt and cand share lineage (same emb
        # scan), so joining on same-named columns builds trivially-true
        # predicates (Spark disambiguates but warns three times per run)
        .select(
            F.col("q_id").alias("c_q_id"), F.col("vec_id").alias("c_vec_id")
        )
    )
    return (
        gt.join(
            cand,
            (F.col("q_id") == F.col("c_q_id"))
            & (F.col("vec_id") == F.col("c_vec_id")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("c_vec_id").alias("n_hits"),
            stable_round(F.count("c_vec_id") / 10.0, 2).alias("recall_at_10"),
        )
    )


@query(
    "pipeline_pretraining_full",
    oracle=f"""
    WITH RECURSIVE scored AS (
      SELECT doc_id, source,
             {X.word_count_sql('text')} AS n_words,
             {X.token_count_sql('text')} AS n_tokens,
             {X.alpha_ratio_sql('text')} AS alpha_ratio,
             {X.lang_id_sql('text')} AS pred_lang,
             {X.bag_fingerprint_sql('text')} AS bag_fp
      FROM documents
    ),
    kept0 AS (
      SELECT * FROM scored
      WHERE n_words >= {PREP_MIN_WORDS} AND alpha_ratio > {PREP_MIN_ALPHA}
        AND pred_lang = '{PREP_LANG}'
    ),
    surv AS MATERIALIZED (
      SELECT doc_id, source, n_tokens FROM (
        SELECT *, row_number() OVER (
          PARTITION BY bag_fp ORDER BY doc_id ASC) AS rn
        FROM kept0
      ) WHERE rn = 1
    ),
    surv_docs AS MATERIALIZED (
      SELECT s.doc_id, s.source, s.n_tokens, d.text
      FROM surv s JOIN documents d USING (doc_id)
    ),
    pairs AS (
      {minhash_lsh_pairs_sql("surv_docs", "doc_id", "text",
                             min_intersection=2)}
    ),
    e(a, b) AS (
      SELECT id_a, id_b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM surv_docs
      UNION
      SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.id
    ),
    comp AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
    canon AS MATERIALIZED (
      SELECT s.doc_id, s.source, s.n_tokens, s.text
      FROM surv_docs s JOIN comp c ON c.id = s.doc_id
      WHERE c.cid = s.doc_id
    ),
    bw0 AS (
      SELECT doc_id, {X.words_sql('text')} AS w
      FROM documents WHERE doc_id % 50 = 0
    ),
    bench AS (SELECT DISTINCT unnest({shingles_sql('w')}) AS s FROM bw0),
    cw0 AS (
      SELECT doc_id, {X.words_sql('text')} AS w
      FROM canon WHERE doc_id % 50 <> 0
    ),
    csh AS (SELECT doc_id, unnest({shingles_sql('w')}) AS s FROM cw0),
    contaminated AS (
      SELECT DISTINCT csh.doc_id FROM csh JOIN bench USING (s)
    ),
    clean AS (
      SELECT doc_id, source, n_tokens FROM canon
      WHERE doc_id % 50 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    toks AS (
      SELECT doc_id, source, doc_id // {PACK_SHARD_SPAN} AS shard,
             n_tokens,
             row_number() OVER (
               PARTITION BY source, doc_id // {PACK_SHARD_SPAN}
               ORDER BY doc_id) AS rn
      FROM clean
    ),
    packed AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             0 AS seq_id, 0 AS seq_offset, n_tokens AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.shard, t.n_tokens, t.rn,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.fill ELSE 0 END,
             CASE WHEN p.fill + t.n_tokens <= {PACK_CAP}
                  THEN p.fill + t.n_tokens ELSE t.n_tokens END
      FROM packed p
      JOIN toks t ON t.source = p.source AND t.shard = p.shard
                 AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, shard, n_tokens, seq_id, seq_offset FROM packed
    """,
)
def pipeline_pretraining_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining-data pipeline in one composed plan — every
    stage this engine implements, chained end to end the way a 100 TB
    corpus actually flows:

      quality gate -> language gate -> exact dedup (bag fingerprint)
      -> MinHash-LSH near-dup clustering -> keep one doc per cluster
      -> benchmark decontamination (3-gram overlap with the eval set)
      -> greedy sequence packing into <=PACK_CAP-token training rows

    Every stage reuses the exact operator (and oracle fragment) proven
    by its standalone query, so this is a composition test of the
    engine, not new semantics: prep_survivors (pipeline_training_prep),
    minhash_lsh_pairs + connected_components
    (dedup_connected_components), the decontamination shape
    (text_decontaminate), and pack_group (pack_sequences_greedy).

    Scale shape: the corpus is scanned once for scoring (gates filter
    map-side before the dedup shuffle); only SURVIVORS re-join their
    text into the near-dup stage (the expensive shingle/signature work
    runs on the post-gate corpus); the benchmark shingle set
    broadcasts; packing shuffles only (id, source, token) triples.
    The oracle replays all of it — including the CC fixpoint and the
    packing fold as two recursive CTEs — in one DuckDB statement."""
    docs = load_table(spark, sf_dir, "documents")
    surv = prep_survivors(docs).select("doc_id", "source", "n_tokens")
    # reuse barrier: surv_docs feeds FOUR consumers (signature build,
    # CC nodes, canonical semi-join, decontamination probe) — without
    # it Catalyst re-inlines the whole gate+dedup chain into each one
    # (the Spark analogue of the DuckDB CTE re-inlining the oracle's
    # MATERIALIZED hints fix; measured 7.4s -> 6.2s at sf0.1)
    surv_docs = pinned(surv.join(docs.select("doc_id", "text"), "doc_id"))
    pairs = minhash_lsh_pairs(
        surv_docs.select("doc_id", "text"), "doc_id", "text",
        min_intersection=2,
    )
    # keep-one-per-cluster as an ANTI-join against the bounded dropped
    # set (labels where comp != id): identical to the former semi-join
    # against the canonical ids — isolated docs are in no edge, so
    # they are never dropped — but the join's small side shrinks from
    # O(survivors) to O(duplicates), and the contraction skips the
    # isolated-nodes union (a survivors-wide anti-join + distinct)
    # whose rows this filter would keep unconditionally anyway
    comp = connected_components(
        surv_docs.select(F.col("doc_id").alias("id")),
        pairs.select("id_a", "id_b"),
        include_isolated=False,
    )
    dropped_ids = comp.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    canon = surv_docs.join(dropped_ids, "doc_id", "left_anti")
    # words bound in their own projection before the shingle transform
    # (see shingle_stream_of: the inline form re-splits per element)
    bench = (
        fan_out(docs)
        .filter(F.col("doc_id") % 50 == 0)
        .select(words(F.col("text")).alias("_w"))
        .select(F.explode(shingles_of(F.col("_w"))).alias("s"))
        .distinct()
    )
    cand = canon.filter(F.col("doc_id") % 50 != 0)
    csh = cand.select(
        "doc_id", words(F.col("text")).alias("_w")
    ).select("doc_id", F.explode(shingles_of(F.col("_w"))).alias("s"))
    contaminated = (
        csh.join(F.broadcast(bench), "s").select("doc_id").distinct()
    )
    clean = cand.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "source", "n_tokens"
    )
    return fold_packed(with_pack_shard(clean))


#: Hybrid retrieval: BM25 candidate pool size and the RRF damping
#: constant (60 is the canonical value from the original RRF paper).
HYBRID_POOL = 20
RRF_K = 60


@query(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({X.words_sql('text')}) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*)::DOUBLE AS tf
      FROM w WHERE w <> '' GROUP BY doc_id, w
    ),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    dfq AS (
      SELECT w, count(*)::DOUBLE AS df FROM tf
      WHERE w IN {BM25_TERMS} GROUP BY w
    ),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * ({BM25_K1} + 1))
             / (tf.tf + {BM25_K1}
                * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
      FROM tf
      JOIN dfq USING (w)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ),
    bm25top AS (
      SELECT doc_id, round(sum(sc), 4) AS bm25
      FROM scored GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC
      LIMIT {HYBRID_POOL}
    ),
    cand AS (
      SELECT doc_id, bm25,
             row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
               AS rank_bm25
      FROM bm25top
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    withcos AS (
      SELECT c.doc_id, c.rank_bm25,
             round({cosine_sql('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.doc_id
      CROSS JOIN q
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC)
               AS rank_cos
      FROM withcos
    )
    SELECT doc_id, rank_bm25, rank_cos,
           round(1.0 / ({RRF_K} + rank_bm25)
                 + 1.0 / ({RRF_K} + rank_cos), 6) AS rrf
    FROM ranked
    """,
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the production
    RAG/retrieval stack in one plan: BM25 proposes a lexical candidate
    pool, the embedding side re-scores it by cosine to the query
    vector, and RRF (1/(k+rank) summed over both rankers, k=60) fuses
    the two orderings without any score normalization — rank fusion is
    what makes the hybrid robust to the two scorers' incomparable
    scales.

    Scale: the BM25 stage is the inverted-index shape of
    ``text_bm25_topk`` (everything per-query broadcasts; top-pool is
    TakeOrderedAndProject); the rerank touches only HYBRID_POOL rows,
    joined to their embeddings by key — at 100 TB the candidate pool,
    not the corpus, is what reaches the dense scorer. Both rank
    assignments order by rounded scores + doc_id so the engines fuse
    identical permutations; RRF itself is exact rational arithmetic in
    doubles.

    r16 restructure (same results): document length is ROW-LOCAL
    (count of non-empty tokens — ``size(filter(words))``), so the
    former corpus-wide (doc, word) aggregate consumed three times
    (lengths, df, scores) is gone. One scan prices lengths + corpus
    stats with no explode and no shuffle; one exploded scan builds the
    QUERY-TERM-filtered tf frame with dl carried in-row (no dl join),
    pinned once for its two consumers (df counts, score fold). The
    only aggregates that remain run on the term-filtered frame —
    bounded by docs containing a query term, not by corpus words."""
    d = load_table(spark, sf_dir, "documents")
    nonempty = F.size(
        F.filter(X.words(F.col("text")), lambda x: x != F.lit(""))
    ).cast("double")
    dlf = (
        fan_out(d)
        .select("doc_id", nonempty.alias("dl"))
        .filter(F.col("dl") > 0)
    )
    stats = dlf.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    tft = pinned(
        fan_out(d)
        .select(
            "doc_id", X.words(F.col("text")).alias("_w")
        )
        .select(
            "doc_id",
            F.size(
                F.filter(F.col("_w"), lambda x: x != F.lit(""))
            ).cast("double").alias("dl"),
            F.explode("_w").alias("w"),
        )
        .filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfq = tft.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    bm25top = (
        tft.join(F.broadcast(dfq), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", (idf * (F.col("tf") * (BM25_K1 + 1)) / norm).alias("sc")
        )
        .groupBy("doc_id")
        .agg(stable_round(F.sum("sc"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(HYBRID_POOL)
    )
    # constant partition key: the rank runs over the <=HYBRID_POOL-row
    # candidate set (the .limit precedes it), so a single partition is
    # the POINT. pmod(doc_id, 1) is 0 for every row but — unlike a
    # bare literal, which Catalyst folds OUT of the spec — survives to
    # WindowExec, so bench logs stay free of the (here meaningless)
    # "No Partition Defined" warning.
    pool_w = Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(1)))
    cand = bm25top.withColumn(
        "rank_bm25",
        F.row_number().over(
            pool_w.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        ),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    withcos = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "rank_bm25",
            stable_round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
    )
    ranked = withcos.withColumn(
        "rank_cos",
        F.row_number().over(
            pool_w.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
        ),
    )
    return ranked.select(
        "doc_id",
        "rank_bm25",
        "rank_cos",
        stable_round(
            1.0 / (RRF_K + F.col("rank_bm25"))
            + 1.0 / (RRF_K + F.col("rank_cos")),
            6,
        ).alias("rrf"),
    )


#: Curriculum phases: training-order buckets per source, highest
#: quality first. 3 is the conventional easy/medium/hard split.
CURRICULUM_PHASES = 3


@query(
    "sample_curriculum_phases",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             round({X.alpha_ratio_sql('text')}, 6) AS quality
      FROM documents
    )
    SELECT doc_id, source, quality,
           ntile({CURRICULUM_PHASES}) OVER (
             PARTITION BY source
             ORDER BY quality DESC, doc_id ASC) AS phase
    FROM scored
    """,
)
def sample_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment: split each source's documents into
    CURRICULUM_PHASES equal-size training phases ordered by a quality
    score (highest first) — the curriculum-learning prep step that
    schedules clean data early and noisy data late. The score is the
    alphabetic-character ratio (the same gate signal the prep pipeline
    thresholds on), rounded at 6dp so both engines rank identical
    quanta; (quality DESC, doc_id) is a total order, and ntile's
    equal-fill semantics are SQL-standard on both engines.

    Scale: ONE window shuffle on source (the same partitioning the
    packer and mixture sampler use); the score is a codegen'd
    projection. At corpus scale the rank-based ntile becomes a
    quantile-threshold assignment (two tiny aggregates, no sort) —
    same phases, no global ordering."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        stable_round(X.alpha_ratio(F.col("text")), 6).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("phase", F.ntile(CURRICULUM_PHASES).over(w))


#: Interior quantile cut points for the 3-phase curriculum, spelled as
#: exact double literals so Spark and DuckDB interpolate from the SAME
#: percentage values.
_CURR_Q_HIGH = 2.0 / 3.0
_CURR_Q_LOW = 1.0 / 3.0


@query(
    "sample_curriculum_phases_quantile",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             round({X.alpha_ratio_sql('text')}, 6) AS quality
      FROM documents
    ),
    th AS (
      SELECT source,
             round(quantile_cont(quality, {_CURR_Q_HIGH!r}), 6) AS t_high,
             round(quantile_cont(quality, {_CURR_Q_LOW!r}), 6) AS t_low
      FROM scored GROUP BY source
    )
    SELECT s.doc_id, s.source, s.quality,
           CASE WHEN s.quality >= th.t_high THEN 1
                WHEN s.quality >= th.t_low THEN 2
                ELSE 3 END AS phase
    FROM scored s JOIN th USING (source)
    """,
)
def sample_curriculum_phases_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile-threshold curriculum assignment — the corpus-scale form
    the ntile query's docstring commits to: instead of ranking every
    document inside its source (a full per-source sort through ONE
    reducer — the toy-scale convenience), compute the two interior
    quality quantiles per source with ONE aggregate and assign phases
    by comparing each document against its source's thresholds via a
    broadcast join. No global ordering anywhere; the corpus is scanned
    once for scoring and once for assignment.

    Phase semantics: 1 = top third by quality (trains first), ties at a
    threshold promote UP (>=) — so phase sizes can deviate from n/3 by
    the tie mass, which is the standard price of the sort-free form
    (tests pin that it agrees with ntile everywhere off the
    boundaries). Both engines interpolate quantiles linearly at
    p*(n-1) from identical double percentages and round thresholds at
    6dp, so the cut points are bit-identical.

    At 10^11 documents the exact per-source percentile buffer becomes
    the bottleneck; the drop-in swap is ``F.approx_percentile``
    (mergeable t-digest, bounded state) with identical plan shape —
    the assignment side never changes."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        stable_round(X.alpha_ratio(F.col("text")), 6).alias("quality"),
    )
    th = scored.groupBy("source").agg(
        stable_round(
            F.percentile(F.col("quality"), F.lit(_CURR_Q_HIGH)), 6
        ).alias("t_high"),
        stable_round(
            F.percentile(F.col("quality"), F.lit(_CURR_Q_LOW)), 6
        ).alias("t_low"),
    )
    return scored.join(F.broadcast(th), "source").select(
        "doc_id",
        "source",
        "quality",
        F.when(F.col("quality") >= F.col("t_high"), F.lit(1))
        .when(F.col("quality") >= F.col("t_low"), F.lit(2))
        .otherwise(F.lit(3))
        .alias("phase"),
    )


#: Weighted-sample size (per corpus) for the Efraimidis–Spirakis query.
WEIGHTED_K = 20


@query(
    "sample_weighted_hash",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                / 4294967297.0) / n_chars AS es_key
      FROM documents
      WHERE n_chars > 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS rk
      FROM keyed
    )
    SELECT doc_id, source, n_chars, round(es_key, 6) AS es_key, rk
    FROM ranked WHERE rk <= {WEIGHTED_K}
    """,
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    exponential race), deterministic: each doc draws a reproducible
    uniform u from its key hash (first 8 md5 hex chars -> (0,1)) and
    competes with key ln(u)/w, w = n_chars; the top-k by key IS a
    w-weighted sample without replacement. Unlike rand()-based samplers
    the draw is a pure row function — same sample on any cluster size,
    any partitioning, any rerun — which is what corpus-mixture sampling
    needs to be auditable.

    Scale: one narrow projection + a global top-k that compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows, no global sort); row_number over the k survivors is driver-
    side-trivial. ln(u)/w (not u^(1/w)) keeps the key monotone while
    avoiding pow()'s cross-libm drift."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + 1.0
    ) / F.lit(4294967297.0)
    keyed = d.select(
        "doc_id", "source", "n_chars",
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    topk = keyed.orderBy(
        F.col("es_key").desc(), F.col("doc_id").asc()
    ).limit(WEIGHTED_K)
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return topk.select(
        "doc_id", "source", "n_chars",
        stable_round(F.col("es_key"), 6).alias("es_key"),
        F.row_number().over(w).alias("rk"),
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH tg AS (
      SELECT lang, substr(text, i, 3) AS g
      FROM documents, unnest(range(1, length(text) - 1)) AS t(i)
      WHERE length(text) >= 3
    ),
    c AS (
      SELECT lang, g, count(*)::BIGINT AS c FROM tg GROUP BY 1, 2
    )
    SELECT lang,
           sum(c)::BIGINT AS n_trigrams,
           count(*)::BIGINT AS distinct_trigrams,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4)
             AS entropy_bits
    FROM c GROUP BY 1
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Shannon entropy per language — the
    distributional-complexity signal curators use to flag
    low-diversity corpora (boilerplate-heavy crawls score low,
    natural prose high) and to sanity-check per-language balance
    before tokenizer training.

    Scale: trigrams generate positionally IN-ROW (no self-join of
    shifted text) from a ONE-TIME char-array split with O(1)
    ``element_at`` sliding — NOT per-offset ``substring(text, i, 3)``,
    which is an O(i) UTF-8 seek and made the old form QUADRATIC in
    document length (the real cause of r8's worst BENCH_SCALEUP ratio,
    ×8.8 at ×10 data: 20.9 s → 10.6 s at sf1 from this fix alone).
    Grams are hashed to int64 with xxhash64 INSIDE the same transform:
    entropy needs the multiset of counts, not gram identity, so the
    (lang, gram) count shuffle moves fixed 8-byte longs instead of
    variable-length strings (the 64-bit space makes a collision among
    the ~10^5-gram vocabulary a ~1e-10 event; the DuckDB oracle keeps
    string grams, so a collision would surface as a distinct-count
    mismatch rather than pass silently). The entropy is computed on
    the gram-vocabulary frame via the numerically stable form
    H = log2(n) − Σc·log2(c)/n — the identical expression tree in
    both engines, no per-row probability division."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    tg = (
        d.filter(F.length("text") >= 3)
        .select("lang", F.split("text", "").alias("cs"))
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(cs) - 2), "
                    "i -> xxhash64(concat(element_at(cs, i), "
                    "element_at(cs, i+1), element_at(cs, i+2))))"
                )
            ).alias("g"),
        )
    )
    c = tg.groupBy("lang", "g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return c.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_trigrams"),
        F.count(F.lit(1)).cast("long").alias("distinct_trigrams"),
        stable_round(
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
            4,
        ).alias("entropy_bits"),
    )


#: Minimum bigram count for a PMI association to be reported (rare
#: pairs have unboundedly noisy PMI).
PMI_MIN_COUNT = 5


@query(
    "text_pmi_cooccurrence",
    oracle=f"""
    WITH w AS (
      SELECT {X.words_sql('text')} AS ws FROM documents
    ),
    bg AS (
      SELECT ws[i] AS a, ws[i + 1] AS b
      FROM w, unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    n AS (SELECT count(*)::BIGINT AS n FROM bg),
    ab AS (SELECT a, b, count(*)::BIGINT AS c_ab FROM bg GROUP BY 1, 2),
    la AS (SELECT a, count(*)::BIGINT AS c_a FROM bg GROUP BY 1),
    rb AS (SELECT b, count(*)::BIGINT AS c_b FROM bg GROUP BY 1)
    SELECT ab.a AS word_a, ab.b AS word_b, ab.c_ab,
           round(log2(n.n * ab.c_ab * 1.0 / (la.c_a * rb.c_b)), 4) AS pmi
    FROM ab
    JOIN la USING (a) JOIN rb USING (b) CROSS JOIN n
    WHERE ab.c_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, word_a ASC, word_b ASC
    LIMIT 20
    """,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word-bigram POINTWISE MUTUAL INFORMATION associations
    (left/right margins, count floor PMI_MIN_COUNT) — the collocation
    statistic
    behind phrase induction and the SGNS/word2vec objective; high-PMI
    pairs are the multi-word expressions a tokenizer should not split.

    Scale: bigrams generate positionally in-row; the pair table and
    both margin tables are vocabulary-cardinality aggregates off ONE
    exploded pass (map-side combinable); margins join back on the
    vocab-sized frames and the top-20 compiles to
    TakeOrderedAndProject. The corpus is never self-joined."""
    # cpu_fan: the per-byte text stage below is CPU-dense and the
    # fixture scan is one row group (one task) — measured SERIAL at
    # sf1.0 (r17 c8-vs-c32 sweep, ratio ~1.0). Row-aware width: the
    # full-parallelism fan measured +0.5-2.5 s at sf0.1 (pinned
    # frames fan every downstream stage); see sources/tables.cpu_fan.
    d = cpu_fan(spark, load_table(spark, sf_dir, "documents"), sf_dir)
    bg = (
        d.select(X.words(F.col("text")).alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2), "
                    "i -> struct(ws[i] AS a, ws[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    bg = pinned(bg)
    n = bg.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ab = bg.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    la = bg.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("c_a"))
    rb = bg.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c_b"))
    return (
        ab.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(la, "a")
        .join(rb, "b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("a").alias("word_a"),
            F.col("b").alias("word_b"),
            "c_ab",
            stable_round(
                F.log2(
                    F.col("n") * F.col("c_ab") * 1.0
                    / (F.col("c_a") * F.col("c_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(
            F.col("pmi").desc(), F.col("word_a").asc(), F.col("word_b").asc()
        )
        .limit(20)
    )


@query(
    "quality_embedding_checks",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             len(embedding) AS dim,
             round(sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])), 6) AS nrm,
             (len(list_filter(embedding,
                              x -> isnan(x) OR isinf(x))) > 0) AS bad
      FROM embeddings
    ),
    d AS (SELECT max(dim) AS want_dim FROM v)
    SELECT count(*)::BIGINT AS n_vecs,
           max(d.want_dim)::BIGINT AS dim,
           sum(CASE WHEN v.dim <> d.want_dim THEN 1 ELSE 0 END)::BIGINT
             AS n_dim_mismatch,
           sum(CASE WHEN v.nrm = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_zero_norm,
           sum(CASE WHEN v.bad THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
           round(avg(v.nrm), 4) AS norm_mean,
           round(min(v.nrm), 6) AS norm_min,
           round(max(v.nrm), 6) AS norm_max
    FROM v CROSS JOIN d
    """,
)
def quality_embedding_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene gate: vector count, modal dimension,
    dimension mismatches, zero-norm vectors, non-finite components,
    and the norm distribution summary — the checks an ANN pipeline
    asserts before building an index (a single NaN silently poisons
    every cosine it touches; zero norms outrank everything after
    division).

    Scale: ONE scan; per-vector dim/norm/finite flags are codegen'd
    array expressions, the expected dimension is a 1-row aggregate
    broadcast back, and the report is a scalar conditional aggregate.
    Mirrors quality_expectations_check's fused-gate shape on the
    vector modality."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.size("embedding").alias("dim"),
        stable_round(
            F.sqrt(
                F.aggregate(
                    F.col("embedding").cast("array<double>"),
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )
            ),
            6,
        ).alias("nrm"),
        F.expr(
            "exists(embedding, x -> isnan(x) "
            "OR abs(x) = CAST('Infinity' AS DOUBLE))"
        ).alias("bad"),
    )
    from kafka_go_streamer_spark.operators.iterate import pinned as _pin

    v = _pin(v)
    d = v.agg(F.max("dim").alias("want_dim"))
    return v.crossJoin(F.broadcast(d)).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.max("want_dim").cast("long").alias("dim"),
        F.sum(F.when(F.col("dim") != F.col("want_dim"), 1).otherwise(0))
        .cast("long")
        .alias("n_dim_mismatch"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_norm"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0))
        .cast("long")
        .alias("n_nonfinite"),
        stable_round(F.avg("nrm"), 4).alias("norm_mean"),
        stable_round(F.min("nrm"), 6).alias("norm_min"),
        stable_round(F.max("nrm"), 6).alias("norm_max"),
    )
