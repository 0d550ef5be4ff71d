"""RedactFields stage and config-provider resolution."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.config import ConfigException, resolve_config_providers
from kafka_connect_plugins_spark.operators import Pipeline
from kafka_connect_plugins_spark.operators.redact import RedactFields
from tests.helpers import make_envelope_df

VALUE_TYPE = T.StructType(
    [
        T.StructField("email", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "body",
            T.StructType(
                [T.StructField("ssn", T.StringType()), T.StructField("note", T.StringType())]
            ),
        ),
    ]
)


def _df(spark):
    return make_envelope_df(
        spark,
        VALUE_TYPE,
        [
            {"key": "k1", "value": {"email": "a@x.io", "name": "Ann", "body": {"ssn": "123", "note": "n1"}}},
            {"key": "k2", "value": {"email": None, "name": "Bob", "body": {"ssn": None, "note": "n2"}}},
            {"key": "k3", "value": None},  # tombstone passes through
        ],
    )


def test_redact_drop_removes_fields(spark):
    out = RedactFields({"fields": "email,body.ssn"}).apply(_df(spark))
    vt = out.schema["value"].dataType
    assert "email" not in vt.fieldNames()
    assert "ssn" not in vt["body"].dataType.fieldNames()
    rows = {r["key"]: r["value"] for r in out.collect()}
    assert rows["k1"]["name"] == "Ann" and rows["k1"]["body"]["note"] == "n1"
    assert rows["k3"] is None  # tombstone untouched


def test_redact_hash_is_joinable_pseudonym(spark):
    out = RedactFields({"fields": "email", "mode": "hash"}).apply(_df(spark))
    rows = {r["key"]: r["value"] for r in out.collect()}
    import hashlib

    assert rows["k1"]["email"] == hashlib.sha256(b"a@x.io").hexdigest()
    assert rows["k2"]["email"] is None  # null stays null, not hash-of-null


def test_redact_fixed_and_null_modes(spark):
    fixed = RedactFields({"fields": "body.ssn", "mode": "fixed", "replacement": "X"}).apply(
        _df(spark)
    )
    rows = {r["key"]: r["value"] for r in fixed.collect()}
    assert rows["k1"]["body"]["ssn"] == "X" and rows["k2"]["body"]["ssn"] is None

    nulled = RedactFields({"fields": "name", "mode": "null"}).apply(_df(spark))
    assert all(r["value"]["name"] is None for r in nulled.collect() if r["value"] is not None)


def test_redact_missing_path_noop_and_bad_mode(spark):
    out = RedactFields({"fields": "nope.deep"}).apply(_df(spark))
    assert out.schema == _df(spark).schema
    with pytest.raises(ConfigException):
        RedactFields({"fields": "email", "mode": "rot13"})


def test_config_provider_resolution(tmp_path, monkeypatch):
    monkeypatch.setenv("KCP_TEST_TOKEN", "s3cret")
    props_file = tmp_path / "conn.properties"
    props_file.write_text("# comment\ndb.user=app\ndb.pass = hunter2\n")
    resolved = resolve_config_providers(
        {
            "a": "${env::KCP_TEST_TOKEN}",
            "b": f"${{file:{props_file}:db.pass}}",
            "c": "prefix-${env:KCP_TEST_TOKEN}-suffix",
            "d": 7,
        }
    )
    assert resolved == {"a": "s3cret", "b": "hunter2", "c": "prefix-s3cret-suffix", "d": 7}
    with pytest.raises(ConfigException):
        resolve_config_providers({"x": "${vault:path:key}"})
    with pytest.raises(ConfigException):
        resolve_config_providers({"x": "${env::NOT_SET_ANYWHERE_123}"})


def test_pipeline_resolves_providers(spark, monkeypatch):
    monkeypatch.setenv("KCP_REDACT_FIELDS", "email")
    pipe = Pipeline.from_connect_config(
        {
            "transforms": "redact",
            "transforms.redact.type": "RedactFields",
            "transforms.redact.fields": "${env::KCP_REDACT_FIELDS}",
        }
    )
    out = pipe.apply(_df(spark))
    assert "email" not in out.schema["value"].dataType.fieldNames()
