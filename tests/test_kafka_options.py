"""``sources/kafka.security_options``: the TLS / SASL-PLAIN pass-through
options (reference main.go:223-287). Pure Python — no broker, no
Spark."""

from __future__ import annotations

import re

from kafka_go_streamer_spark.sources.kafka import security_options

_JAAS = re.compile(
    r'^org\.apache\.kafka\.common\.security\.plain\.PlainLoginModule required '
    r'username="((?:[^"\\]|\\.)*)" password="((?:[^"\\]|\\.)*)";$'
)


def _unquote(body: str) -> str:
    """Kafka's ``JaasConfig`` reads quoted values with
    ``java.io.StreamTokenizer``: a backslash escapes the next character
    (``\\n`` and friends become control characters)."""
    controls = {"a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r",
                "t": "\t", "v": "\v"}
    return re.sub(r"\\(.)", lambda m: controls.get(m[1], m[1]), body)


def _credentials(opts: dict[str, str]) -> tuple[str, str]:
    m = _JAAS.match(opts["kafka.sasl.jaas.config"])
    assert m, opts["kafka.sasl.jaas.config"]
    return _unquote(m[1]), _unquote(m[2])


def test_no_options_by_default():
    assert security_options() == {}


def test_protocols():
    plain = security_options(sasl_username="u", sasl_password="p")
    assert plain["kafka.security.protocol"] == "SASL_PLAINTEXT"
    assert plain["kafka.sasl.mechanism"] == "PLAIN"
    assert _credentials(plain) == ("u", "p")

    sasl_ssl = security_options(sasl_username="u", sasl_password="p", tls=True)
    assert sasl_ssl["kafka.security.protocol"] == "SASL_SSL"
    assert _credentials(sasl_ssl) == ("u", "p")

    ssl = security_options(tls=True)
    assert ssl == {"kafka.security.protocol": "SSL"}


def test_keystore_truststore_and_skip_verify():
    opts = security_options(
        tls=True,
        keystore_location="/k.jks",
        keystore_password="kp",
        truststore_location="/t.jks",
        insecure_skip_verify=True,
    )
    assert opts == {
        "kafka.security.protocol": "SSL",
        "kafka.ssl.keystore.location": "/k.jks",
        "kafka.ssl.keystore.password": "kp",
        "kafka.ssl.truststore.location": "/t.jks",
        "kafka.ssl.truststore.password": "",
        "kafka.ssl.endpoint.identification.algorithm": "",
    }
    verified = security_options(tls=True, truststore_location="/t.jks")
    assert "kafka.ssl.endpoint.identification.algorithm" not in verified


def test_quotes_and_backslashes_in_credentials_round_trip():
    for password in ('pa"ss', "back\\slash", 'x\\"; y="z', "tab\\t", "\\"):
        opts = security_options(sasl_username='us"er', sasl_password=password)
        assert _credentials(opts) == ('us"er', password)
