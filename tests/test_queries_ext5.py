"""Non-vacuity + semantics tests for the part-6 query catalog (q93-q96).

Each query must actually exercise its branch logic on the real
testdata — a contaminated-count of zero, a flag rate of 0% or 100%,
or an outlier count of zero would make the oracle match vacuous.
"""

import pytest

from batch_process_spark.queries import QUERIES
import batch_process_spark.queries_ext5  # noqa: F401  (registers q93+)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", [
    "q93_decontamination", "q94_repetition_quality",
    "q95_centroid_outliers", "q96_tfidf_keywords",
])
def test_part6_queries_nonempty(spark, name):
    assert QUERIES[name](spark, SF).limit(1).count() == 1


def test_q93_contamination_nonvacuous(spark):
    """The eval split must share trigrams with the train split on the
    real testdata, and a doc can never overlap more grams than exist."""
    rows = QUERIES["q93_decontamination"](spark, SF).collect()
    assert sum(r["n_contaminated"] for r in rows) > 0, "no contamination found (vacuous)"
    for r in rows:
        assert r["total_overlap"] >= r["n_contaminated"]


def test_q94_flags_split_corpus(spark):
    """Thresholds must flag SOME docs but not ALL — both branches of
    the flag predicate exercised on real data."""
    rows = QUERIES["q94_repetition_quality"](spark, SF).collect()
    n_docs = sum(r["n_docs"] for r in rows)
    n_flagged = sum(r["n_flagged"] for r in rows)
    assert 0 < n_flagged < n_docs
    for r in rows:
        assert 0.0 <= r["avg_dup_frac"] <= 1.0
        assert 0.0 <= r["avg_top_bi_frac"] <= 1.0


def test_q95_outliers_nonvacuous(spark):
    """Some vectors must point away from their label centroid (the
    synthetic embeddings don't cluster tightly), and every cosine
    aggregate must be a valid cosine."""
    rows = QUERIES["q95_centroid_outliers"](spark, SF).collect()
    assert sum(r["n_outliers"] for r in rows) > 0, "no outliers found (vacuous)"
    for r in rows:
        assert 0 <= r["n_outliers"] <= r["n_vectors"]
        assert -1.0 <= r["avg_cos"] <= 1.0


def test_q96_three_keywords_per_doc(spark):
    """Exactly 3 keywords per doc (docs all have >=3 distinct tokens
    in the testdata), non-negative scores, no duplicate terms."""
    out = QUERIES["q96_tfidf_keywords"](spark, SF)
    per_doc = out.groupBy("doc_id").count().collect()
    assert per_doc and all(r["count"] == 3 for r in per_doc)
    assert out.filter("score < 0").count() == 0
    dups = out.groupBy("doc_id", "tok").count().filter("count > 1").count()
    assert dups == 0


def test_q97_semantic_dedup_nonvacuous(spark):
    """Clusters must exist (some vectors removed) AND singletons must
    survive; totals must partition exactly."""
    rows = QUERIES["q97_semantic_dedup"](spark, SF).collect()
    total_removed = sum(r["n_removed"] for r in rows)
    assert total_removed > 0, "no near-dup clusters found (vacuous)"
    for r in rows:
        assert r["n_survivors"] + r["n_removed"] == r["n_vectors"]
        assert r["n_survivors"] >= 1


def test_q98_entropy_flags_split_corpus(spark):
    """The 2.8-nat threshold must flag SOME docs but not ALL, and
    entropy must be non-negative and bounded by ln(doc length)."""
    rows = QUERIES["q98_word_entropy"](spark, SF).collect()
    n_docs = sum(r["n_docs"] for r in rows)
    n_low = sum(r["n_low_entropy"] for r in rows)
    assert 0 < n_low < n_docs
    for r in rows:
        assert 0.0 <= r["avg_entropy"] <= r["max_entropy"] <= 6.0


def test_stream_interval_join_refuses_unbounded_state(spark):
    """A streaming interval join without a watermark would grow join
    state forever; the builder must refuse it unless opted in."""
    import tempfile

    from batch_process_spark.streaming.joins import stream_interval_join

    si = "ad_id int, imp_ts timestamp"
    sc = "ad_id int, click_ts timestamp, click_value double"
    di, dc = tempfile.mkdtemp(), tempfile.mkdtemp()
    l = spark.readStream.schema(si).parquet(di)
    r = spark.readStream.schema(sc).parquet(dc)
    with pytest.raises(ValueError, match="state forever"):
        stream_interval_join(
            l, r, on="ad_id", left_ts="imp_ts", right_ts="click_ts",
            max_delay="10 minutes",
        )
    # batch inputs skip watermarks entirely — same builder, no guard
    lb = spark.createDataFrame([], si)
    rb = spark.createDataFrame([], sc)
    out = stream_interval_join(
        lb, rb, on="ad_id", left_ts="imp_ts", right_ts="click_ts",
        max_delay="10 minutes",
    )
    assert not out.isStreaming and out.count() == 0


def test_append_feed_roundtrip(spark):
    """pyarrow-written feed files must read back through a Spark file
    source exactly as createDataFrame-written ones: LTZ timestamps,
    matching values under a UTC session."""
    import tempfile
    from datetime import datetime

    from batch_process_spark.streaming.feed import append_feed

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = "k int, ts timestamp, v double, s string"
    d = tempfile.mkdtemp()
    rows = [(1, datetime(2024, 1, 1, 10, 30), 1.5, "a"),
            (2, datetime(2024, 6, 1, 0, 0), -2.0, None)]
    append_feed(d, schema, rows)
    got = spark.read.schema(schema).parquet(d).orderBy("k").collect()
    assert [tuple(r) for r in got] == rows
    assert dict(spark.read.parquet(d).dtypes)["ts"] == "timestamp"


def test_q100_shuffle_partitions_restored(spark):
    """The scoped STATE_PARTITIONS pin must not leak into the
    session after the streaming query finishes."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = QUERIES["q100_stream_stream_join"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_append_feed_converts_aware_datetimes(spark):
    """A tz-aware datetime must be CONVERTED to UTC, not have its
    offset silently stripped (which would shift the instant)."""
    import tempfile
    from datetime import datetime, timedelta, timezone

    from batch_process_spark.streaming.feed import append_feed

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = tempfile.mkdtemp()
    plus5 = timezone(timedelta(hours=5))
    append_feed(d, "k int, ts timestamp", [(1, datetime(2024, 1, 1, 10, 0, tzinfo=plus5))])
    got = spark.read.schema("k int, ts timestamp").parquet(d).collect()
    assert got[0]["ts"] == datetime(2024, 1, 1, 5, 0)


def test_q100_scoped_confs_restored(spark):
    """noDataMicroBatches (and shuffle partitions) must not leak into
    the session after the streaming run; an unset conf stays unset."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.unset(key)
    before_sp = spark.conf.get("spark.sql.shuffle.partitions")
    QUERIES["q100_stream_stream_join"](spark, "/root/testdata/sf0.001").collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_sp
    assert spark.conf.get(key, None) in (None, "true")  # default, not pinned


def test_stream_feed_dirs_removed_after_the_stream_stops(spark):
    """q99 and q100 return their memory-sink table, which does not read
    the feeds: their temp dirs are gone once the queries return."""
    import os
    import tempfile

    def feed_dirs():
        return {e for e in os.listdir(tempfile.gettempdir())
                if e.startswith(("q99_wm_", "q100_"))}

    before = feed_dirs()
    assert len(QUERIES["q99_stream_watermark"](spark, SF).collect()) > 0
    assert len(QUERIES["q100_stream_stream_join"](spark, SF).collect()) == 3
    assert feed_dirs() <= before
