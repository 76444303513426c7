"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test only ever sees the files
written here; the facts the benchmark needs about them (planted shares,
expected routes, cluster layout) are returned to the caller separately.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Routing: rule set and syslog-envelope message log
# ---------------------------------------------------------------------------

#: Rule set in the shape of the reference's production config: shared
#: extractors through YAML anchors, a CIDR regex first, literal path
#: substrings that contain regex metacharacters ('.', '-'), an explicit
#: output topic, action indirection, the default ``matched`` action, a
#: drop through an action name that is missing from ``actions``, and an
#: unmatched dead-letter topic.
RULES_YAML = r"""
extractors:
  net_cidr: &net_cidr
    pattern: '.*"src":"192\.168\.(1[0-5])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])".*'
    use_regex: true
  app_log: &app_log
    pattern: 'source":"/var/log/app.log'
  mon_log: &mon_log
    pattern: 'source":"/var/log/db/db-mon'
  db_log: &db_log
    pattern: 'source":"/var/log/db/db.log'
  osd_log: &osd_log
    pattern: 'source":"/var/log/db/db-osd'

spliters_templates:
  - input_topic: 'in-syslog'
    actions:
      matched: 'db-match'
      unmatched: 'syslog-unmatched'
      debug: 'db-debug'
    cloud: [zone-a]
    splits:
      - extractor: *net_cidr
        output_topic: 'net-match'
      - extractor: *app_log
        output_topic: 'app-explicit'
      - extractor: *mon_log
        action: debug
      - extractor: *db_log
      - extractor: *osd_log
        action: nosuchaction
"""

#: Paths that hit one of the substring arms.
MATCH_PATHS = (
    "/var/log/app.log",
    "/var/log/db/db-mon.log",
    "/var/log/db/db.log",
    "/var/log/db/db-osd.3.log",
)
#: Paths that match nothing. The first two would match the app.log and
#: db.log arms if '.' were treated as a regex wildcard.
MISS_PATHS = (
    "/var/log/appXlog",
    "/var/log/db/dbXlog",
    "/var/log/syslog",
    "/var/log/kern.log",
    "/var/log/auth.log",
    "/var/log/nginx/access.log",
)
_WORDS = (
    "accepted connection closed session opened user daemon started stopped "
    "timeout retry kernel eth0 link up down mounted volume checksum ok "
    "failed request served bytes latency slow queue flushed rotated"
).split()

#: Share of messages planted to match some arm (the reference demo
#: corpus matches about 1%).
MATCH_SHARE = 0.01


def _src_ip(rng: random.Random, in_cidr: bool) -> str:
    if in_cidr:
        return f"192.168.{rng.randrange(10, 16)}.{rng.randrange(256)}"
    # near misses for the CIDR arm: right /16, third octet out of range
    if rng.random() < 0.3:
        return f"192.168.{rng.randrange(16, 256)}.{rng.randrange(256)}"
    return f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}"


#: Fixed offsets of the nine-digit ``seq`` and sixteen-digit ``due_us``
#: fields in every message line.
SEQ_AT = 57
DUE_AT = SEQ_AT + 21


def message_line(seq: int, due_us: int, host: int, src: str, path: str,
                 text: str) -> str:
    """One syslog envelope with a JSON body, as the reference's demo
    corpus carries them. ``seq`` identifies the message; ``due_us`` is
    its scheduled send time in epoch microseconds (0 when the workload
    has no schedule). Both sit at fixed offsets (SEQ_AT, DUE_AT)."""
    return (
        f"<134>1 2026-10-17T00:00:00Z host-{host:02d} rsyslogd - - "
        f'{{"seq":"{seq:09d}","due_us":"{due_us:016d}","host":"host-{host:02d}",'
        f'"src":"{src}","source":"{path}","msg":"{text}"}}'
    )


def message_body(rng: random.Random) -> tuple[str, str]:
    """(src, path) for one message: about MATCH_SHARE of messages are
    planted on one of the five arms, some on two arms at once (the
    first arm in order must win)."""
    if rng.random() < MATCH_SHARE:
        arm = rng.randrange(5)
        if arm == 0:
            path = rng.choice(MATCH_PATHS + MISS_PATHS)
            return _src_ip(rng, True), path
        return _src_ip(rng, False), MATCH_PATHS[arm - 1]
    return _src_ip(rng, False), rng.choice(MISS_PATHS)


def message_text(rng: random.Random) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randrange(4, 14)))


def message_log(seed: int, n: int) -> list[str]:
    """``n`` message lines for a closed-loop log (no schedule)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        src, path = message_body(rng)
        out.append(message_line(i, 0, rng.randrange(64), src, path,
                                message_text(rng)))
    return out


def write_message_files(lines: list[str], out_dir: str, n_files: int) -> None:
    """Stage ``lines`` as ``n_files`` newline-delimited text files."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(lines) // n_files)
    for f in range(n_files):
        chunk = lines[f * per:(f + 1) * per]
        with open(os.path.join(out_dir, f"part-{f:05d}.txt"), "w",
                  encoding="utf-8") as fh:
            fh.write("\n".join(chunk) + "\n")


# ---------------------------------------------------------------------------
# Corpus for the pretraining pipeline
# ---------------------------------------------------------------------------

#: Per-language stopwords, one per few words, so the stopword language
#: heuristic labels each document by the set it was written with.
_STOP = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
}
_SYLL = ("ka ri to mu ne sa lo vi pe zu da gor ten bri sta plo nuk fel "
         "mar quo dex lin var tor").split()

#: Planted shares of the generated corpus (before rounding per seed).
CORPUS_SHARES = {
    "exact_dup": 0.08,
    "near_dup": 0.08,
    "non_english": 0.06,
    "short": 0.04,
    "low_alpha": 0.04,
    "contaminated": 0.04,
}


def _vocab(rng: random.Random, size: int) -> list[str]:
    stops = {w for ws in _STOP.values() for w in ws} | {
        "el", "la", "de", "y", "es", "un", "en", "que", "le", "et", "est",
        "dans",
    }
    words: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choices(_SYLL, k=rng.randrange(2, 4)))
        if w not in stops:
            words.add(w)
    return sorted(words)


def _doc_words(rng: random.Random, vocab: list[str], lang: str,
               n_words: int) -> list[str]:
    stops = _STOP[lang]
    out = []
    for i in range(n_words):
        out.append(rng.choice(stops) if i % 5 == 2 else rng.choice(vocab))
    return out


def corpus(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """Documents table (the ``documents`` fixture schema) plus the
    planted counts. Ids are dense; documents with ``doc_id % 50 == 0``
    are the evaluation set the pipeline decontaminates against, so a
    contaminated document carries an 8-word span copied from one."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)
    kinds = list(CORPUS_SHARES)
    texts: list[str] = []
    langs: list[str] = []
    planted = dict.fromkeys(kinds, 0)
    for i in range(n_docs):
        r = rng.random()
        kind = "base"
        acc = 0.0
        for k in kinds:
            acc += CORPUS_SHARES[k]
            if r < acc:
                kind = k
                break
        # copies need an earlier non-eval base; eval docs stay base
        if i % 50 == 0 or (kind in ("exact_dup", "near_dup", "contaminated")
                           and i < 60):
            kind = "base"
        lang = "en"
        if kind == "exact_dup":
            j = rng.randrange(i)
            ws = texts[j].split(" ")
            rng.shuffle(ws)  # same word bag, different order
            text = " ".join(ws)
            lang = langs[j]
        elif kind == "near_dup":
            j = rng.randrange(i)
            ws = texts[j].split(" ")
            for _ in range(3):
                p = rng.randrange(len(ws))
                if p % 5 != 2:
                    ws[p] = rng.choice(vocab)
            text = " ".join(ws)
            lang = langs[j]
        elif kind == "non_english":
            lang = "de"
            text = " ".join(_doc_words(rng, vocab, "de", rng.randrange(30, 90)))
        elif kind == "short":
            text = " ".join(_doc_words(rng, vocab, "en", rng.randrange(5, 19)))
        elif kind == "low_alpha":
            ws = _doc_words(rng, vocab, "en", rng.randrange(30, 60))
            text = " ".join(
                w if k % 3 else f"{rng.randrange(10**6)}-{rng.randrange(10**4)}"
                for k, w in enumerate(ws)
            )
        elif kind == "contaminated":
            ev = texts[50 * rng.randrange(max(1, i // 50))].split(" ")
            p = rng.randrange(max(1, len(ev) - 8))
            ws = _doc_words(rng, vocab, "en", rng.randrange(30, 90))
            q = rng.randrange(len(ws))
            text = " ".join(ws[:q] + ev[p:p + 8] + ws[q:])
        else:
            text = " ".join(_doc_words(rng, vocab, "en", rng.randrange(30, 120)))
        if kind != "base":
            planted[kind] += 1
        texts.append(text)
        langs.append(lang)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, planted


def write_corpus(table: pa.Table, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


# ---------------------------------------------------------------------------
# Clustered embeddings for the IVF store
# ---------------------------------------------------------------------------


class Embeddings:
    """Seeded clustered vectors: unit cluster centres in ``dim``
    dimensions, points at Gaussian offsets around them. Base corpus,
    append batches and query panels all draw from the same mixture, in
    a fixed order, so one seed fixes every vector of a run."""

    def __init__(self, seed: int, dim: int, clusters: int, spread: float):
        self.rng = np.random.default_rng(seed)
        c = self.rng.standard_normal((clusters, dim))
        self.centres = c / np.linalg.norm(c, axis=1, keepdims=True)
        self.dim, self.clusters, self.spread = dim, clusters, spread

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        lab = self.rng.integers(0, self.clusters, n)
        x = self.centres[lab] + self.spread * self.rng.standard_normal(
            (n, self.dim))
        return x.astype(np.float32), lab.astype(np.int32)


def embedding_table(ids: np.ndarray, vecs: np.ndarray,
                    labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def query_table(qvecs: np.ndarray) -> pa.Table:
    flat = pa.array(qvecs.reshape(-1).astype(np.float64), pa.float64())
    qv = pa.FixedSizeListArray.from_arrays(flat, qvecs.shape[1]).cast(
        pa.list_(pa.float64()))
    return pa.table({
        "q_id": pa.array(np.arange(len(qvecs)), pa.int64()),
        "qv": qv,
    })


def paced_file_lines(seed: int, index: int, per_file: int,
                     due_us: int) -> list[str]:
    """Lines of the ``index``-th file of an open-loop run; every message
    in the file carries the file's scheduled send time."""
    rng = random.Random(f"{seed}:{index}")
    out = []
    for j in range(per_file):
        src, path = message_body(rng)
        out.append(message_line(index * per_file + j, due_us,
                                rng.randrange(64), src, path,
                                message_text(rng)))
    return out
