"""Eval-set n-gram decontamination built on ``ngrams`` and PII
detect/scrub (functions/text.py)."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.functions.text import (
    ngrams,
    pii_features,
    scrub_pii,
    ws_tokens,
)


def _contamination(spark, train_rows, eval_text, n):
    """Per train doc: distinct n-grams, how many of them occur in the eval
    text, and that share. Only docs with at least one shared gram are
    returned."""
    ev = {
        r["g"]
        for r in spark.createDataFrame([(eval_text,)], "text string")
        .select(F.explode(ngrams(ws_tokens(F.col("text")), n)).alias("g"))
        .collect()
    }
    grams = F.array_distinct(ngrams(ws_tokens(F.col("text")), n))
    hit = F.array_intersect(grams, F.array(*[F.lit(g) for g in sorted(ev)]))
    df = spark.createDataFrame(train_rows, "doc_id long, text string").select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(hit).alias("n_contaminated"),
        F.when(F.size(grams) > 0, F.size(hit) / F.size(grams)).alias("contam_frac"),
    )
    return {r["doc_id"]: r.asDict() for r in df.where("n_contaminated > 0").collect()}


class TestDecontaminate:
    def test_flags_only_overlapping_docs(self, spark):
        train = [
            (1, "alpha beta gamma delta epsilon"),  # contains eval 4-gram
            (2, "zeta eta theta iota kappa"),  # clean
            (3, "x alpha beta gamma delta y"),  # overlap mid-document
        ]
        out = _contamination(spark, train, "alpha beta gamma delta", n=4)
        assert set(out) == {1, 3}
        assert out[1]["n_contaminated"] == 1
        assert out[1]["n_grams"] == 2  # 5 tokens -> two 4-grams
        assert out[1]["contam_frac"] == 0.5
        assert out[3]["n_contaminated"] == 1

    def test_short_docs_cannot_match(self, spark):
        train = [(1, "alpha beta gamma")]  # < n tokens: no 4-grams at all
        assert _contamination(spark, train, "alpha beta gamma delta", n=4) == {}

    def test_duplicate_grams_count_once(self, spark):
        # the eval gram appears twice in the train doc; per-doc distinct
        # grams mean it is counted once
        out = _contamination(spark, [(1, "a b c d a b c d")], "a b c d", n=4)
        # distinct grams of the train doc: "a b c d", "b c d a", "c d a b",
        # "d a b c" -> 4; one matches
        assert out[1]["n_grams"] == 4
        assert out[1]["n_contaminated"] == 1

    def test_n_below_one_rejected(self, spark):
        with pytest.raises(ValueError):
            ngrams(ws_tokens(F.col("text")), 0)


class TestPii:
    def _one(self, spark, text):
        df = spark.createDataFrame([(text,)], "text string")
        feats = pii_features(F.col("text"))
        row = df.select(
            feats["n_emails"].alias("e"),
            feats["n_phones"].alias("p"),
            scrub_pii(F.col("text")).alias("t"),
        ).first()
        return row["e"], row["p"], row["t"]

    def test_email_detected_and_masked(self, spark):
        e, p, t = self._one(spark, "mail me at jo.doe+x@sub.example.org today")
        assert (e, p) == (1, 0)
        assert t == "mail me at <EMAIL> today"

    def test_phone_detected_and_masked(self, spark):
        e, p, t = self._one(spark, "call +1-555-0042 now")
        assert (e, p) == (0, 1)
        assert t == "call <PHONE> now"

    def test_multiple_spans(self, spark):
        e, p, t = self._one(spark, "a@b.co or c@d.io or +44-201-3344")
        assert (e, p) == (2, 1)
        assert t == "<EMAIL> or <EMAIL> or <PHONE>"

    def test_clean_text_untouched(self, spark):
        e, p, t = self._one(spark, "no pii here, just words")
        assert (e, p) == (0, 0)
        assert t == "no pii here, just words"
