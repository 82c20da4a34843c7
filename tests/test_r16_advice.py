"""Round-16 advisor fixes (ADVICE.md r15).

Contract basis: the reference delegates SQL verbatim to ClickHouse
(/root/reference/mcp_clickhouse/mcp_server.py:425), so the translation
layer must survive every lexical form CH accepts:

1. Comments — CH docs §syntax#comments: C-style ``/* … */`` and line
   comments ``--``, ``#!``, ``#␣``.  The division/IN pre-passes scanned
   raw text, so the ``/`` of a closing ``*/`` was treated as a division
   operator (corrupting the query) and ``IN (`` inside a comment could
   fire the IN rewrite.  ``translate`` now strips comments first.
2. Scientific notation — the division pre-pass reset its term on the
   exponent sign, so ``1e-3 / 2`` emitted invalid SQL.
3. ``values()`` structure strings with parameterized types
   (``Decimal(10,2)``, ``Map(String, Int64)``) were comma-split naively.
4. ``groupBitmapAnd/Xor`` over zero rows ANSI-threw INVALID_ARRAY_INDEX
   where CH returns cardinality 0.
5. ``mapContains`` with a runtime-NULL key returned NULL where CH's
   two-valued contract returns 0.
"""

from __future__ import annotations

import pytest

from mcp_clickhouse_spark.dialect import (
    _nonzero_num_literal,
    ch_type_to_spark,
    translate,
)


def _val(spark, ch_sql):
    rows = spark.sql(translate(ch_sql)).collect()
    return rows[0][0] if rows else None


class TestCommentStripping:
    def test_block_comment_before_count(self, spark):
        # advisor repro: the '/' of '*/' became a division operator
        assert _val(spark, "SELECT /* total rows */ count(*)") == 1

    def test_block_comment_adjacent_to_division(self, spark):
        assert _val(spark, "SELECT 6 /*six*/ / /*three*/ 3") == 2

    def test_line_comment_with_in_keyword(self, spark):
        sql = "SELECT 42 AS x -- note IN (1, NULL) here\n WHERE 3 NOT IN (1, NULL)"
        assert _val(spark, sql) == 42

    def test_block_comment_containing_in_list(self, spark):
        sql = "SELECT /* x IN (1, NULL) */ 7"
        assert _val(spark, sql) == 7

    def test_hash_and_hashbang_line_comments(self, spark):
        assert _val(spark, "SELECT 5 #! hashbang comment\n + 1") == 6
        assert _val(spark, "SELECT 5 # hash comment\n + 2") == 7

    def test_string_literals_are_opaque(self, spark):
        assert (
            _val(spark, "SELECT '/* not a comment */ -- nope' AS s")
            == "/* not a comment */ -- nope"
        )


class TestScientificNotationDivision:
    def test_exp_minus_literal_left(self, spark):
        # advisor repro: '1e-3 / 2' emitted '1e-CASE WHEN …' (invalid)
        assert _val(spark, "SELECT 1e-3 / 2") == pytest.approx(0.0005)

    def test_exp_plus_literal_over_column(self, spark):
        spark.sql("SELECT 5.0 AS x").createOrReplaceTempView("t_r16_sci")
        assert _val(
            spark, "SELECT 1.5e+2 / x FROM t_r16_sci"
        ) == pytest.approx(30.0)

    def test_exp_literal_zero_denominator_contract(self, spark):
        # the rewrite must still fire when the denominator can be 0
        spark.sql("SELECT 0.0 AS x").createOrReplaceTempView("t_r16_sci0")
        v = _val(spark, "SELECT 1.5e+2 / x FROM t_r16_sci0")
        assert v == float("inf")

    def test_plain_additive_chain_unbroken(self, spark):
        # '-' that is NOT an exponent sign still resets the term:
        # 10 - 6/3 is 10 - (6/3), never (10-6)/3
        assert _val(spark, "SELECT 10 - 6 / 3") == pytest.approx(8.0)


class TestLiteralDenominatorPushdown:
    def test_nonzero_literal_stays_native(self):
        out = translate("SELECT ts / 1000 AS s FROM t WHERE ts / 1000 > 5")
        assert "CASE WHEN" not in out
        assert out.count("/ 1000") == 2

    def test_zero_literal_still_rewritten(self, spark):
        assert _val(spark, "SELECT 1 / 0") == float("inf")
        assert _val(spark, "SELECT -1 / 0") == float("-inf")
        import math

        assert math.isnan(_val(spark, "SELECT 0 / 0"))

    def test_nonzero_num_literal_classifier(self):
        assert _nonzero_num_literal("- 3")
        assert _nonzero_num_literal("1e-3")
        assert _nonzero_num_literal("0x10")
        assert not _nonzero_num_literal("0")
        assert not _nonzero_num_literal("0.0")
        assert not _nonzero_num_literal("0x0")
        assert not _nonzero_num_literal("b")
        assert not _nonzero_num_literal("2 + 2")

    def test_division_in_where_pushes_down(self, spark, tmp_path):
        # the plan-level claim: a nonzero-literal division predicate
        # reaches the parquet scan as a pushed/readable filter, and the
        # query no longer carries the CASE guard
        p = str(tmp_path / "pd.parquet")
        spark.range(100).selectExpr("id * 1000 AS ts").write.parquet(p)
        spark.read.parquet(p).createOrReplaceTempView("t_r16_pd")
        df = spark.sql(translate("SELECT ts FROM t_r16_pd WHERE ts / 1000 > 50"))
        from mcp_clickhouse_spark.plans import explain_formatted

        assert df.count() == 49
        plan = explain_formatted(df)
        assert "CASE WHEN" not in plan
        assert "PushedFilters" in plan


class TestValuesParameterizedTypes:
    def test_decimal_and_map_structure(self, spark):
        from mcp_clickhouse_spark.sources.table_functions import (
            bind_sql_table_functions,
        )

        q = (
            "SELECT a, m['k'] AS mk FROM "
            "values('a Decimal(10,2), m Map(String, Int64)', "
            "(1.25, map('k', 7)), (2.50, map('k', 9))) ORDER BY a"
        )
        rows = spark.sql(translate(bind_sql_table_functions(spark, q))).collect()
        assert [(str(r.a), r.mk) for r in rows] == [("1.25", 7), ("2.50", 9)]

    def test_ch_type_to_spark_shapes(self):
        assert ch_type_to_spark("Decimal(10,2)") == "DECIMAL(10,2)"
        assert ch_type_to_spark("Decimal64(4)") == "DECIMAL(18,4)"
        assert ch_type_to_spark("Map(String, Int64)") == "MAP<STRING, BIGINT>"
        assert ch_type_to_spark("Array(Nullable(UInt32))") == "ARRAY<BIGINT>"
        assert ch_type_to_spark("LowCardinality(String)") == "STRING"
        assert ch_type_to_spark("FixedString(16)") == "STRING"
        assert ch_type_to_spark("DateTime64(3)") == "TIMESTAMP"
        assert ch_type_to_spark("Tuple(Int64, String)") is None


class TestGroupBitmapEmptyInput:
    def test_and_over_zero_rows_is_zero(self, spark):
        # CH: aggregates over an empty set return the type default — 0
        assert _val(
            spark,
            "SELECT groupBitmapAnd(b) FROM"
            " (SELECT array(1, 2) AS b) WHERE 1 = 0",
        ) == 0

    def test_xor_over_zero_rows_is_zero(self, spark):
        assert _val(
            spark,
            "SELECT groupBitmapXor(b) FROM"
            " (SELECT array(1, 2) AS b) WHERE 1 = 0",
        ) == 0

    def test_and_nonempty_regression(self, spark):
        assert _val(
            spark,
            "SELECT groupBitmapAnd(b) FROM (SELECT array(1, 2, 3) AS b"
            " UNION ALL SELECT array(2, 3, 4))",
        ) == 2

    def test_xor_nonempty_regression(self, spark):
        assert _val(
            spark,
            "SELECT groupBitmapXor(b) FROM (SELECT array(1, 2, 3) AS b"
            " UNION ALL SELECT array(2, 3, 4))",
        ) == 2


class TestMapContainsNullKey:
    def test_runtime_null_key_is_false(self, spark):
        # CH two-valued contract: NULL key → 0, not NULL
        assert (
            _val(
                spark,
                "SELECT mapContains(map('a', 1), IF(1 = 1, NULL, 'a'))",
            )
            is False
        )

    def test_literal_null_key_is_false(self, spark):
        assert _val(spark, "SELECT mapContains(map('a', 1), NULL)") is False

    def test_null_map_keeps_null(self, spark):
        assert (
            _val(
                spark,
                "SELECT mapContains(IF(1 = 1, NULL, map('a', 1)), 'a')",
            )
            is None
        )

    def test_hit_and_miss_regression(self, spark):
        assert _val(spark, "SELECT mapContains(map('a', 1), 'a')") is True
        assert _val(spark, "SELECT mapContains(map('a', 1), 'b')") is False
