"""Round-17 optimization round: pins for the operator internals that changed.

Every optimization this round is value-identical by construction; these
tests pin the equivalences so a future refactor cannot silently diverge:

- with_text_stats: translate()-based char-class counts == the old
  regexp_replace formulation (on adversarial non-ASCII/edge inputs).
- span_dedup: the max_docs=1 min/max fast path == the generic
  countDistinct path.
- join_star_revenue: the broadcastable (no pre-agg) and non-broadcastable
  (pre-agg) branches return identical rows.
- q1: coalesce(1)+sortWithinPartitions output is totally ordered.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from mcp_clickhouse_spark.session import get_spark

    return get_spark(app_name="test-r17-opt")


def test_text_stats_translate_matches_regex_formulation(spark):
    rows = [
        (1, "Hello, World! 42 times _under_ [ok]"),
        (2, "ALLCAPS 123"),
        (3, "tabs\tand\nnewlines\x0b\x0c\r mixed"),
        (4, "unicode münchen ÄÖÜ ß €42 —dash"),
        (5, "a"),
        (6, "    leading and trailing    "),
        (7, "1234567890"),
        (8, "!@#$%^&*()"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from mcp_clickhouse_spark.pipeline.text import with_text_stats

    got = {
        r["doc_id"]: r
        for r in with_text_stats(df)
        .select("doc_id", "punct_ratio", "digit_ratio", "upper_ratio")
        .collect()
    }
    # independent reference: the pre-r17 regexp_replace formulation
    text = F.col("text")
    n = F.length(text)

    def stripped(pat):
        return n - F.length(F.regexp_replace(text, pat, ""))

    ref = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.round(stripped(r"[^\w\s]") / n.cast("double"), 6).alias("punct_ratio"),
            F.round(stripped(r"[^0-9]") / n.cast("double"), 6).alias("digit_ratio"),
            F.round(stripped(r"[^A-Z]") / n.cast("double"), 6).alias("upper_ratio"),
        ).collect()
    }
    for k in ref:
        for c in ("punct_ratio", "digit_ratio", "upper_ratio"):
            assert got[k][c] == ref[k][c], (k, c, got[k][c], ref[k][c])


def test_span_dedup_minmax_path_matches_countdistinct_path(spark):
    rows = [
        (1, " ".join(["common"] * 20 + ["unique one"] * 10)),
        (2, " ".join(["common"] * 20 + ["other words here"] * 7)),
        (3, " ".join(["solo"] * 45)),
        (4, "short doc"),
        # NULL-id vectors (r18, advice item): a chunk seen ONLY under NULL
        # ids must be kept on both paths (countDistinct=0 <= 1; min<=>max
        # is NULL<=>NULL = true), and a NULL id sharing a chunk with a
        # real id must not change the verdict (aggregates skip NULLs).
        (None, " ".join(["nullonly"] * 25)),
        (None, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from mcp_clickhouse_spark.pipeline.dedup import span_dedup

    def canon(rows):
        return sorted(
            map(tuple, rows), key=lambda r: (r[0] is None,) + tuple(map(str, r))
        )

    fast = canon(span_dedup(df, max_docs=1).collect())
    # max_docs=2 forces the generic countDistinct branch; with a <=1
    # comparison it is NOT the same predicate, so instead compare the fast
    # path against a manual countDistinct<=1 reconstruction.
    from mcp_clickhouse_spark.pipeline.dedup import _spread, doc_spans, regroup_spans

    spans = doc_spans(_spread(df, by="doc_id"), "text", "doc_id", 20)
    freq = spans.groupBy("chunk_key").agg(F.countDistinct("doc_id").alias("_nd"))
    flagged = spans.join(freq, "chunk_key").withColumn("_keep", F.col("_nd") <= 1)
    ref = canon(regroup_spans(flagged, "doc_id").collect())
    assert fast == ref
    # the NULL-only chunk survived on the fast path (regression pin for the
    # eqNullSafe fix — plain == dropped it)
    null_row = [r for r in fast if r[0] is None]
    assert null_row and null_row[0][1] >= 1  # kept_chunks >= 1


def test_join_star_branches_identical(spark):
    sf = "/root/testdata/sf0.001"
    from mcp_clickhouse_spark.inventory.registry import QUERIES

    # The query is built straight from its function, not through
    # run_prepared: the plan cache would replay the FIRST call's analyzed
    # plan for the second call, so the threshold=-1 invocation would never
    # rebuild, the pre-agg branch would never be constructed and the assert
    # would be vacuous.  Building per call makes _broadcastable re-evaluate.
    build = QUERIES["join_star_revenue"].fn

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    # natural branch (estimate decides; sf0.001 orders is tiny → broadcastable
    # → the no-pre-agg branch)
    df_a = build(spark, sf)
    a = sorted(map(tuple, df_a.collect()))
    assert "Aggregate [l_orderkey" not in analyzed(df_a)
    # force the pre-agg branch by making nothing broadcastable
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df_b = build(spark, sf)
        # prove the second call genuinely built the OTHER branch: the
        # fact-side pre-aggregation groups on l_orderkey below the joins
        assert "Aggregate [l_orderkey" in analyzed(df_b)
        b = sorted(map(tuple, df_b.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert a == b


def test_q1_output_totally_ordered(spark):
    sf = "/root/testdata/sf0.001"
    import __spark_entry__ as em

    rows = [
        (r["l_returnflag"], r["l_linestatus"])
        for r in em.queries()["q1_pricing_summary"](spark, sf).collect()
    ]
    assert rows == sorted(rows)
