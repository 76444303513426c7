"""Tests of the benchmark's own parts: the independent reference router
on the reference config's edge cases, the ANN answer check, the seeded
generators, and BENCHMARK.json against the metric table.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
from reference import Rules, exact_topk, ivf_expected, same_topk  # noqa: E402
from wl_route import _wrong  # noqa: E402

EDGE_YAML = r"""
extractors:
  cidr: &cidr
    pattern: '.*"source":"10\.220\.(6[4-9]|7[0-1])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])".*'
    use_regex: true
spliters_templates:
  - input_topic: 'with-unmatched'
    actions:
      matched: 'm'
      unmatched: 'u'
      debug: 'd'
    splits:
      - extractor: *cidr
        output_topic: 'net'
      - extractor: {pattern: 'source":"/var/log/ceph/ceph.log'}
      - extractor: {pattern: 'source":"/var/log/ceph/ceph-mon'}
        action: debug
      - extractor: {pattern: 'source":"/var/log/ceph/ceph-osd'}
        action: nosuchaction
  - input_topic: 'bare'
    actions: {}
    splits:
      - extractor: {pattern: 'source":"/var/log/syslog'}
        output_topic: 'sys'
      - extractor: {pattern: 'source":"/var/log/app[1].log'}
"""


def test_reference_router_literal_metacharacters():
    r = Rules(EDGE_YAML, "with-unmatched")
    assert r.route('x source":"/var/log/ceph/ceph.log y')[0] == "m"
    # '.' is literal in a substring arm: no wildcard match
    assert r.route('x source":"/var/log/ceph/cephXlog y')[0] == "u"
    b = Rules(EDGE_YAML, "bare")
    # '[1]' is literal too (as a regex it would match 'app1.log')
    assert b.route('source":"/var/log/app1.log')[0] is None
    assert b.route('source":"/var/log/app[1].log') == (None, 2)


def test_reference_router_cidr_regex():
    r = Rules(EDGE_YAML, "with-unmatched")
    assert r.route('sasdjioa"source":"10.220.64.10"saskld') == ("net", 1)
    assert r.route('"source":"10.220.71.255"') == ("net", 1)
    assert r.route('"source":"10.220.72.10"')[0] == "u"
    assert r.route('"source":"10.220.64.256"')[0] == "u"


def test_reference_router_first_match_action_and_drop():
    r = Rules(EDGE_YAML, "with-unmatched")
    # first arm wins when two match
    v = '"source":"10.220.65.1" source":"/var/log/ceph/ceph-mon'
    assert r.route(v) == ("net", 1)
    assert r.route('source":"/var/log/ceph/ceph-mon') == ("d", 3)
    # an action missing from `actions` drops the message
    assert r.route('source":"/var/log/ceph/ceph-osd') == (None, 4)
    assert r.route("nothing here") == ("u", 4)


def test_reference_router_without_unmatched_topic():
    b = Rules(EDGE_YAML, "bare")
    assert b.route('a source":"/var/log/syslog b') == ("sys", 1)
    # a matched arm with no output topic and no `matched` action drops
    assert b.route('source":"/var/log/app[1].log')[0] is None
    # unmatched with no unmatched topic is produced nowhere
    assert b.route("nothing") == (None, 2)


def test_benchmark_rule_set_mix():
    r = Rules(gen.RULES_YAML)
    topics = [r.route(v)[0] for v in gen.message_log(7, 20_000)]
    share = 1 - topics.count("syslog-unmatched") / len(topics)
    assert 0.005 < share < 0.02
    assert {"net-match", "app-explicit", "db-debug", "db-match", None} <= set(topics)


def test_wrong_flags_missing_extra_duplicate_and_misrouted():
    want = np.array([1, 0, 2, 1], dtype=np.int16)
    ok = _wrong(want, np.array([0, 2, 3]), np.array([1, 2, 1], dtype=np.int16))
    assert not ok.any()
    bad = _wrong(want, np.array([0, 1, 2, 2]), np.array([2, 1, 2, 2], dtype=np.int16))
    assert bad.tolist() == [True, True, True, True]


def test_ivf_reference_and_tie_tolerant_compare():
    rng = np.random.default_rng(0)
    base = rng.standard_normal((200, 8))
    ids = np.arange(200)
    q = rng.standard_normal((3, 8))
    cents = rng.standard_normal((4, 8))
    cells = np.argmax((base / np.linalg.norm(base, axis=1, keepdims=True))
                      @ (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T,
                      axis=1)
    # probing every cell is exact search
    full = ivf_expected(cents, cells, base, ids, q, nprobe=4, k=5)
    exact = exact_topk(base, ids, q, 5)
    for f, e in zip(full, exact):
        assert sorted(f) == sorted(e.tolist())
        assert same_topk(dict(f), f)
    one = full[0]
    assert not same_topk(dict(list(one.items())[:4]), one)
    shifted = {k: v - 1e-3 for k, v in one.items()}
    assert not same_topk(shifted, one)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for tag in ("a", "b"):
        d = tmp_path / tag
        gen.write_message_files(gen.message_log(11, 3000), str(d / "log"), 3)
        gen.write_corpus(gen.corpus(11, 300)[0], str(d / "corpus"))
        e = gen.Embeddings(11, 16, 4, 0.3)
        v, lab = e.draw(100)
        pq.write_table(gen.embedding_table(np.arange(100), v, lab),
                       str(d / "emb.parquet"))
        pq.write_table(gen.query_table(e.draw(8)[0]), str(d / "q.parquet"))
        with open(d / "paced.txt", "w", encoding="utf-8") as fh:
            fh.write("\n".join(gen.paced_file_lines(11, 5, 50, 123)))
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    assert not cmp.diff_files and not cmp.left_only and not cmp.right_only
    for sub in ("log", "corpus"):
        c = filecmp.dircmp(tmp_path / "a" / sub, tmp_path / "b" / sub)
        assert not c.diff_files and not c.left_only and not c.right_only
        for f in c.common_files:
            assert (tmp_path / "a" / sub / f).read_bytes() == (
                tmp_path / "b" / sub / f).read_bytes()
    for f in ("emb.parquet", "q.parquet", "paced.txt"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def test_other_seed_gives_other_inputs():
    assert gen.message_log(1, 500) != gen.message_log(2, 500)
    assert gen.corpus(1, 200)[0] != gen.corpus(2, 200)[0]


def test_message_fields_at_fixed_offsets():
    line = gen.message_line(123456789, 1760000000123456, 7, "1.2.3.4", "/x", "y z")
    assert line[gen.SEQ_AT:gen.SEQ_AT + 9] == "123456789"
    assert line[gen.DUE_AT:gen.DUE_AT + 16] == "1760000000123456"


def test_corpus_plants_every_kind():
    _, planted = gen.corpus(3, 2000)
    for kind, share in gen.CORPUS_SHARES.items():
        assert 0.4 * share < planted[kind] / 2000 < 1.6 * share, kind


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        b = json.load(fh)
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in b["workloads"]} == {"route", "dataprep"}
    assert {m["name"]: (m["unit"], m["better"], m["bound"])
            for m in b["end_to_end"]} == metrics.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == (
        metrics.PER_LAYER)
