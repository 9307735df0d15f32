"""Tests for credential scoping (S5), redaction (F3), retry (X4)."""

from __future__ import annotations

import pytest

from component_delta_lake_writer_spark.credentials import (
    redact,
    scope_s3_credentials,
)
from component_delta_lake_writer_spark.http_retry import with_retries


def test_redact_credential_clause():
    # the reference's exact pattern: src/component.py:282
    sql = "COPY INTO t FROM 's3://b/' WITH (CREDENTIAL (AWS_ACCESS_KEY 'AKIA123'))"
    out = redact(sql)
    assert "AKIA123" not in out
    assert "--SENSITIVE--" in out


def test_redact_key_value_secrets():
    out = redact("secret=topsecret token: abc123 access_key=AKIA9")
    assert "topsecret" not in out
    assert "abc123" not in out
    assert "AKIA9" not in out


def test_scope_s3_credentials_sets_bucket_confs(spark):
    scope_s3_credentials(
        spark, "mybucket", "AK", "SK", session_token="TOK", region="eu-west-1"
    )
    conf = spark.conf
    base = "spark.hadoop.fs.s3a.bucket.mybucket"
    assert conf.get(f"{base}.access.key") == "AK"
    assert conf.get(f"{base}.secret.key") == "SK"
    assert conf.get(f"{base}.session.token") == "TOK"
    # the reference's hard-coded storage options (src/component.py:
    # 302-305) — PER-BUCKET forms, so two buckets scoped in one
    # session never clobber each other's timeout/retry settings
    assert conf.get(f"{base}.attempts.maximum") == "2"
    assert conf.get(f"{base}.connection.timeout") == "3600000"


def test_with_retries_succeeds_after_failures():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("boom")
        return "ok"

    assert with_retries(flaky, sleep=sleeps.append) == "ok"
    assert calls["n"] == 3
    assert sleeps == [1, 2]  # linear backoff: attempt+1 (X4)


def test_with_retries_reraises_last():
    def always_fails():
        raise ValueError("nope")

    with pytest.raises(ValueError):
        with_retries(always_fails, sleep=lambda s: None)


def test_registry_order_tracks_driver_evidence():
    """With the repo's own CORRECTNESS files, the correctness check's 50-key
    window holds the pins and then red and never-checked keys: all of
    them when they fit, nothing else when they do not."""
    from component_delta_lake_writer_spark.plans import (
        _PINS,
        QUERIES,
        _correctness_evidence,
    )

    evidence = _correctness_evidence()
    ks = list(QUERIES)
    assert ks[: len(_PINS)] == list(_PINS)
    window = [k for k in ks[:50] if k not in _PINS]
    due = {
        k for k in ks
        if k not in _PINS and (k not in evidence or evidence[k][1])
    }
    if len(due) >= len(window):
        assert set(window) <= due, sorted(set(window) - due)
    else:
        assert due <= set(window), sorted(due - set(window))


def test_registry_order_rule_on_synthetic_evidence(tmp_path):
    """Pins, then red (newest row), then never-checked, then green by
    oldest newest-green round; rounds compare as integers; ties keep
    registration order; an unreadable file is skipped."""
    import json

    from component_delta_lake_writer_spark.plans import (
        _PINS,
        _check_order,
        _correctness_evidence,
    )

    green = {"err": None, "rows_match": True}
    rounds = {
        9: {"cleared": {"err": "boom"}, "g9_b": green, "g9_a": green,
            "g100": green, "red_late": green},
        10: {"cleared": green, "g10": green,
             "red_late": {"rows_match": False}},
        100: {"g100": green},
    }
    for n, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{n}.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r11.json").write_text("{not json")

    evidence = _correctness_evidence(str(tmp_path))
    assert evidence["cleared"] == (10, False)
    assert evidence["red_late"] == (10, True)
    assert evidence["g100"] == (100, False)

    registered = ["g100", "g10", "new_b", "cleared", "g9_b", "red_late",
                  "g9_a", "new_a", *reversed(_PINS)]
    assert _check_order(registered, evidence) == [
        *_PINS, "red_late", "new_b", "new_a",
        "g9_b", "g9_a", "g10", "cleared", "g100",
    ]


def test_redaction_covers_hadoop_secret_keys():
    """Review finding: 'secret.key=' / 'secret_key=' — the exact conf
    keys scope_s3_credentials sets — leaked through redaction."""
    from component_delta_lake_writer_spark.credentials import redact

    for line in [
        "fs.s3a.bucket.b.secret.key=TOPSECRET",
        "secret_key=TOPSECRET",
        "fs.s3a.bucket.b.session.token=TOPSECRET",
        "access_key: TOPSECRET",
    ]:
        out = redact(line)
        assert "TOPSECRET" not in out, (line, out)
        assert "--SENSITIVE--" in out


def test_hive_decode_unquotes_column_names():
    """Spark escapes partition COLUMN names too ('a b' -> 'a%20b=v');
    an un-unquoted key never matched the logical column."""
    from component_delta_lake_writer_spark.sinks.hive_layout import (
        decode_segments,
    )

    assert decode_segments("a%20b=x%20y") == {"a b": "x y"}


def test_with_retries_rejects_nonpositive_attempts():
    import pytest as _pytest

    from component_delta_lake_writer_spark.http_retry import with_retries

    with _pytest.raises(ValueError, match="attempts"):
        with_retries(lambda: 1, attempts=0)


def test_range_join_edges(spark):
    """Half-open [start, end) semantics and bucket-edge coverage: an
    interval ending exactly on a bucket boundary must not claim the
    next bucket, and a point equal to `end` must not match."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        range_join,
    )
    from pyspark.sql import functions as F

    points = spark.createDataFrame(
        [("2024-01-01 10:00:00",), ("2024-01-01 10:29:59",),
         ("2024-01-01 10:30:00",), ("2024-01-01 11:00:00",)],
        "ts string",
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [("2024-01-01 10:00:00", "2024-01-01 10:30:00", "a"),
         ("2024-01-01 10:30:00", "2024-01-01 11:00:00", "b")],
        "s string, e string, tag string",
    ).select(
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
        "tag",
    )
    out = sorted(
        (r["ts"].isoformat(), r["tag"])
        for r in range_join(
            points, iv, "ts", "s", "e", bucket_seconds=1800
        ).collect()
    )
    assert out == [
        ("2024-01-01T10:00:00", "a"),
        ("2024-01-01T10:29:59", "a"),
        ("2024-01-01T10:30:00", "b"),
    ]
