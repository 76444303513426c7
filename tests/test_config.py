"""Config parse + normalization tests.

The fixture YAML below is written fresh but exercises every structural
feature of the reference's production config (reference topic.yaml):
shared extractors via YAML anchors, regex + substring predicates,
explicit output_topic, action indirection, default-``matched`` fallback,
a ``drop``-style action, an ignored ``cloud:`` field, and an ``actions``
map missing the ``matched`` key.
"""

from __future__ import annotations

import base64

import pytest

from kafka_go_streamer_spark.config import (
    ConfigError,
    group_id,
    load_split_conf,
    load_split_conf_b64,
)
from kafka_go_streamer_spark.routing import route

FIXTURE_YAML = """
extractors:
  net_cidr: &net_cidr
    pattern: '.*"src":"192\\.168\\.(1[0-5])\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])".*'
    use_regex: true
  app_log: &app_log
    pattern: 'path":"/var/log/app.log'
  db_log: &db_log
    pattern: 'path":"/var/log/db/db.log'
  mon_log: &mon_log
    pattern: 'path":"/var/log/db/db-mon'
  osd_log: &osd_log
    pattern: 'path":"/var/log/db/db-osd'

spliters_templates:
  - input_topic: 'in-net'
    actions:
      unmatched: 'in-net-unmatched'
      debug: 'in-net-debug'
    cloud: [zone-a]
    splits:
      - extractor: *net_cidr
        output_topic: 'net-match'
  - input_topic: 'in-app'
    actions:
      matched: 'app-match'
      unmatched: 'app-unmatched'
      drop: 'app-drop'
      debug: 'app-debug'
    cloud: [zone-b]
    splits:
      - extractor: *app_log
        output_topic: 'app-explicit'
      - extractor: *mon_log
        action: debug
      - extractor: *db_log
      - extractor: *osd_log
        action: drop
  - input_topic: 'in-bare'
    actions: {}
    splits:
      - extractor: *app_log
      - extractor: *mon_log
        action: nosuchaction
"""


def test_parse_shape():
    coll = load_split_conf(FIXTURE_YAML)
    assert len(coll.spliters) == 3
    assert [s.input_topic for s in coll.spliters] == ["in-net", "in-app", "in-bare"]
    # anchors resolved: the shared extractor appears in two spliters
    assert coll.spliters[1].splits[0].extractor.pattern == 'path":"/var/log/app.log'
    assert coll.spliters[2].splits[0].extractor.pattern == 'path":"/var/log/app.log'
    # cloud: silently ignored (no attribute anywhere)
    assert not hasattr(coll.spliters[0], "cloud")


def test_resolution_explicit_action_default_drop():
    coll = load_split_conf(FIXTURE_YAML)
    r = coll.spliters[1].resolved_splits()
    assert [(s.topic, s.use_regex) for s in r] == [
        ("app-explicit", False),  # explicit output_topic wins
        ("app-debug", False),  # action name -> actions map
        ("app-match", False),  # neither -> actions["matched"]
        ("app-drop", False),  # 'drop' is NOT special: it's in the map here
    ]
    assert coll.spliters[1].unmatched_topic == "app-unmatched"


def test_missing_action_and_missing_matched_mean_drop():
    coll = load_split_conf(FIXTURE_YAML)
    r = coll.spliters[2].resolved_splits()
    # no 'matched' in actions -> default route drops; unknown action -> drops
    assert [s.topic for s in r] == [None, None]
    assert coll.spliters[2].unmatched_topic is None


def test_regex_flag_only_on_cidr():
    coll = load_split_conf(FIXTURE_YAML)
    assert coll.spliters[0].resolved_splits()[0].use_regex is True
    assert all(not s.use_regex for s in coll.spliters[1].resolved_splits())


def test_b64_roundtrip():
    b64 = base64.b64encode(FIXTURE_YAML.encode()).decode()
    coll = load_split_conf_b64(b64)
    assert len(coll.spliters) == 3


def _regex_spliter(pattern: str):
    return load_split_conf(
        "spliters_templates:\n  - input_topic: t\n"
        "    actions: {matched: m}\n"
        f"    splits:\n      - extractor: {{pattern: '{pattern}', use_regex: true}}\n"
    ).spliters[0]


def test_bad_regex_fails_at_plan_build(spark):
    """Regex splits are judged by java.util.regex, the dialect ``rlike``
    runs: ``route()`` raises ConfigError naming the spliter and the
    pattern before it returns a plan, so no job ever runs. ``(?P<n>ab)``
    is valid for Python ``re`` and Go RE2 but not for Java."""
    sc = spark.sparkContext
    df = spark.createDataFrame([("k", "ab")], "key string, value string")
    sc.setJobGroup("bad-regex-plan-build", "route() on bad regex splits")
    try:
        for pattern in ("([unclosed", "(?P<n>ab)"):
            spliter = _regex_spliter(pattern)  # parsing does not judge
            with pytest.raises(ConfigError) as err:
                route(df, spliter)
            assert "'t'" in str(err.value) and pattern in str(err.value)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("bad-regex-plan-build") == []


def test_java_only_regex_syntax_routes(spark):
    """``\\z`` (end of input) is valid in Java and Go but not in Python
    ``re``: parsing accepts it and the route honours it."""
    spliter = _regex_spliter(r"ab\z")
    df = spark.createDataFrame(
        [("1", "xab"), ("2", "abx")], "key string, value string"
    )
    assert {r.key: r.topic for r in route(df, spliter).collect()} == {
        "1": "m",
        "2": None,
    }


def test_group_id_layout_and_validation():
    assert group_id("pfx", "sfx", "topic-1") == "pfx-streamer-sfx_topic-1"
    with pytest.raises(ConfigError):
        group_id("x" * 65, "s", "t")
    with pytest.raises(ConfigError):
        group_id("has space", "s", "t")


def test_empty_and_invalid_configs():
    assert load_split_conf("") .spliters == []
    with pytest.raises(ConfigError):
        load_split_conf("spliters_templates:\n  - input_topic: t\n    splits: []\n")
    # a null or empty action topic must not become a topic named "None"
    for value in ("", "''"):
        with pytest.raises(ConfigError):
            load_split_conf(
                "spliters_templates:\n  - input_topic: t\n"
                f"    actions: {{unmatched: {value}}}\n"
                "    splits:\n      - extractor: {pattern: x}\n"
            )
