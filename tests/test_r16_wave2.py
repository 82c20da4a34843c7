"""Round-16 probe-wave batch 2 (aggregate/encoding/URL edges).

Confirmed deltas fixed:

- ``avgWeighted`` with a ZERO total weight ANSI-threw DIVIDE_BY_ZERO
  where CH returns nan (Float64 contract, same family as divide());
  an empty/all-NULL input keeps NULL (nullable contract).
- ``base64Decode`` surfaced BINARY through the tool contract (bare
  unbase64 mapping); CH returns String.
- ``cutWWW`` only stripped a leading ``www.`` on SCHEMELESS urls —
  'http://www.example.com/p' passed through unchanged.

Probed clean in the same batch (~55 vectors, no fix needed): JSON
family (JSONType/Length/Has/ExtractString multi-key/ExtractKeys/
simpleJSON*/visitParam*/isValidJSON/toJSONString), base64 variants
(URL-safe encode/decode, tryBase64Decode ''-default), char(),
UUID roundtrip, empty/notEmpty on strings and arrays, emptyArray*,
arrayStringConcat, URL hierarchy (protocol/domain[WithoutWWW]/
topLevelDomain/path[Full]/queryString/fragment/extractURLParameter[s,
Names]/cutQueryString/cutFragment/firstSignificantSubdomain/
cutToFirstSignificantSubdomain/netloc/decodeURLComponent/
encodeURLFormComponent), IP family (IPv4NumToString roundtrip,
isIPv4String, isIPAddressInRange, IPv4CIDRToRange), tuple
(tupleElement positional), timezone (timeZoneOf/toTimezone/
timeZoneOffset/serverTimeZone), age/dateDiff/dateTrunc, aggregate
edges (argMax, boundingRatio, maxIntersections, sumKahan, median,
singleValueOrNull both branches, countIf).

Verify-class (recorded, not changed): whether CH's uniq/uniqExact
count NULL as a distinct value (the general "aggregates skip NULL"
rule vs uniq treating NULL as a key) — needs a docs/CH pin; this
engine follows Spark/SQL-standard distinct-excludes-NULL semantics.
"""

from __future__ import annotations

import math

import pytest

from mcp_clickhouse_spark.dialect import translate


def _val(spark, ch_sql):
    rows = spark.sql(translate(ch_sql)).collect()
    return rows[0][0] if rows else None


class TestAvgWeightedZeroWeight:
    def test_zero_total_weight_is_nan(self, spark):
        v = _val(
            spark,
            "SELECT avgWeighted(x, w) AS r FROM"
            " (SELECT 1 AS x, 0 AS w UNION ALL SELECT 2, 0)",
        )
        assert isinstance(v, float) and math.isnan(v)

    def test_weighted_value_regression(self, spark):
        # CH docs-style example: ((4*1) + (1*0) + (10*2)) / 3 = 8
        assert _val(
            spark,
            "SELECT avgWeighted(x, w) AS r FROM (SELECT 4 AS x, 1 AS w"
            " UNION ALL SELECT 1, 0 UNION ALL SELECT 10, 2)",
        ) == pytest.approx(8.0)

    def test_empty_input_keeps_null(self, spark):
        # nullable contract: empty set → NULL (not nan) — documented
        assert (
            _val(
                spark,
                "SELECT avgWeighted(x, w) AS r FROM"
                " (SELECT 1 AS x, 1 AS w) WHERE 1 = 0",
            )
            is None
        )

    def test_null_values_weights_skipped(self, spark):
        # NULL value rows drop out entirely (value AND weight)
        assert _val(
            spark,
            "SELECT avgWeighted(x, w) AS r FROM (SELECT 4 AS x, 1 AS w"
            " UNION ALL SELECT NULL, 100)",
        ) == pytest.approx(4.0)


class TestBase64DecodeString:
    def test_returns_string_not_binary(self, spark):
        v = _val(spark, "SELECT base64Decode('Y2xpY2tob3VzZQ==')")
        assert v == "clickhouse" and isinstance(v, str)

    def test_roundtrip(self, spark):
        assert _val(spark, "SELECT base64Decode(base64Encode('ab c'))") == (
            "ab c"
        )


class TestRegexpReplacementBackrefs:
    """CH replacements use \\N backreferences ($ is literal); Java/Spark
    wants $N (with \\$ for a literal dollar).  Round-16 probe: \\1
    passed through as a literal '1' in replaceRegexpAll, and
    replaceRegexpOne inserted the replacement text VERBATIM."""

    def test_all_docs_example(self, spark):
        # CH docs: replaceRegexpAll('Hello, World!', '.', '\\0\\0')
        assert _val(
            spark, r"SELECT replaceRegexpAll('Hello', '(l)', '\\1\\1')"
        ) == "Hellllo"

    def test_all_dollar_is_literal(self, spark):
        assert _val(
            spark, r"SELECT replaceRegexpAll('abc', 'b', '$9')"
        ) == "a$9c"

    def test_all_runtime_replacement_expression(self, spark):
        # non-literal replacement takes the runtime escape chain
        assert _val(
            spark,
            r"SELECT replaceRegexpAll('ab', '(a)', concat('\\', '1x'))",
        ) == "axb"

    def test_one_replaces_first_only_with_backrefs(self, spark):
        assert _val(
            spark,
            r"SELECT replaceRegexpOne('123-456', '(\\d+)-(\\d+)', '\\2-\\1')",
        ) == "456-123"
        assert _val(
            spark, r"SELECT replaceRegexpOne('aaa', 'a', 'b')"
        ) == "baa"

    def test_one_no_match_unchanged(self, spark):
        assert _val(
            spark, r"SELECT replaceRegexpOne('xyz', '(q)', '\\1!')"
        ) == "xyz"

    def test_regexp_replace_alias_same_contract(self, spark):
        # CH aliases REGEXP_REPLACE to replaceRegexpAll (\N backrefs)
        assert _val(
            spark, r"SELECT REGEXP_REPLACE('Hello', '(l)', '\\1\\1')"
        ) == "Hellllo"

    def test_plain_replacement_regression(self, spark):
        assert _val(
            spark, r"SELECT replaceRegexpAll('a1b22', '\\d+', 'N')"
        ) == "aNbN"


class TestArrayReduceTwoArrayForms:
    """arrayReduce gained the 2-array combinator forms plus more 1-array
    names (round-16 probe: 'sumIf'/'argMax' raised wrong-arity)."""

    @pytest.mark.parametrize(
        "expr,expected",
        [
            ("arrayReduce('sum', [1, 2, 3])", 6),
            ("arrayReduce('sumIf', [1, 2, 3], [1, 0, 1])", 4),
            ("arrayReduce('countIf', [1, 0, 2, NULL])", 2),
            ("arrayReduce('argMax', ['a', 'b', 'c'], [10, 30, 20])", "b"),
            ("arrayReduce('argMin', ['a', 'b', 'c'], [10, 30, 20])", "a"),
            (
                "arrayReduce('argMax', emptyArrayString(),"
                " emptyArrayInt64())",
                None,
            ),
            ("arrayReduce('any', [7, 8])", 7),
            ("arrayReduce('anyLast', [7, 8])", 8),
            ("arrayReduce('uniqExact', [1, 1, 2, NULL])", 2),
            # NULL values/conditions contribute nothing (CH skips NULLs)
            ("arrayReduce('sumIf', [1, NULL, 3], [1, 1, NULL])", 1),
        ],
    )
    def test_vectors(self, spark, expr, expected):
        assert _val(spark, f"SELECT {expr}") == expected

    def test_unsupported_name_guided(self):
        from mcp_clickhouse_spark.dialect import DialectError

        with pytest.raises(DialectError, match="pure-fold twins"):
            translate("SELECT arrayReduce('median', [1, 2])")

    def test_reduce_in_ranges_docs_example(self, spark):
        # CH docs worked example: per-range sums over (index, length)
        assert _val(
            spark,
            "SELECT arrayReduceInRanges('sum',"
            " [(1, 5), (2, 3), (3, 4), (4, 6)],"
            " [1000000, 200000, 30000, 4000, 500, 60, 7])",
        ) == [1234500, 234000, 34560, 4567]

    def test_reduce_in_ranges_computed_guided(self):
        from mcp_clickhouse_spark.dialect import DialectError

        with pytest.raises(DialectError, match="literal array"):
            translate("SELECT arrayReduceInRanges('sum', x, y) FROM t")


class TestLeadLagInFrame:
    """CH leadInFrame/lagInFrame pair with an explicit full frame (the
    documented idiom) — Spark hard-errors on ANY frame attached to
    lead/lag, so the full frame is stripped (identical values) and a
    partial frame is a guided error (round-16 probe)."""

    def _rows(self, spark, q):
        return [r.r for r in spark.sql(translate(q)).collect()]

    def test_full_frame_stripped(self, spark):
        q = (
            "SELECT leadInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS r FROM"
            " (SELECT 1 AS x UNION ALL SELECT 2) ORDER BY x"
        )
        assert self._rows(spark, q) == [2, None]

    def test_lag_with_partition(self, spark):
        q = (
            "SELECT lagInFrame(x, 1) OVER (PARTITION BY 1 ORDER BY x ROWS"
            " BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS r"
            " FROM (SELECT 1 AS x UNION ALL SELECT 2) ORDER BY x"
        )
        assert self._rows(spark, q) == [None, 1]

    def test_partial_frame_guided(self):
        from mcp_clickhouse_spark.dialect import DialectError

        with pytest.raises(DialectError, match="only the full frame"):
            translate(
                "SELECT leadInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN"
                " 1 PRECEDING AND CURRENT ROW) FROM t"
            )

    def test_call_in_string_literal_untouched(self):
        q = "SELECT 'x leadInFrame(y) OVER ()' AS s"
        assert translate(q) == q

    def test_frameless_respects_default_frame(self, spark):
        # round 17: CH's default frame is RANGE UNBOUNDED PRECEDING →
        # CURRENT ROW, so a frameless leadInFrame only reaches PEERS of
        # the current row (equal ORDER BY keys); non-peer successors
        # yield the default.  lagInFrame is unaffected (offset rows are
        # never before the frame start).
        q = (
            "SELECT leadInFrame(v, 1) OVER (ORDER BY o) AS r FROM"
            " (SELECT 1 AS o, 10 AS v UNION ALL SELECT 2, 20"
            "  UNION ALL SELECT 2, 25 UNION ALL SELECT 3, 30)"
            " ORDER BY o, v"
        )
        got = self._rows(spark, q)
        # o=2 rows are peers: the first sees the second; everyone else
        # has no in-frame successor
        assert got == [None, 25, None, None]

    def test_frameless_lag_equals_lag(self, spark):
        q = (
            "SELECT lagInFrame(x, 1) OVER (ORDER BY x) AS r"
            " FROM (SELECT 1 AS x UNION ALL SELECT 2) ORDER BY x"
        )
        assert self._rows(spark, q) == [None, 1]


class TestTypedJsonExtract:
    """The generic JSONExtract(json, keys…, 'Type') and the SQL/JSON
    standard JSON_VALUE/JSON_QUERY/JSON_EXISTS spellings leaked
    UNRESOLVED (round-16 probe); typed getters follow the named
    extractors' try_cast + type-default convention, and arrays take
    per-element best-effort casts (strict from_json rejected the docs
    example's 200.0 as Int64 where CH truncates)."""

    J = '\'{"a":"hello","b":[-100,200.0,300]}\''

    @pytest.mark.parametrize(
        "expr,expected",
        [
            ("JSONExtract(@@, 'a', 'String')", "hello"),
            # CH docs worked example
            (
                "JSONExtract(@@, 'b', 'Array(Nullable(Int64))')",
                [-100, 200, 300],
            ),
            ("JSONExtract(@@, 'b', 'Array(Float64)')", [-100.0, 200.0, 300.0]),
            ("JSONExtract(@@, 'a', 'Int64')", 0),  # wrong type → default
            ("JSONExtract(@@, 'missing', 'Int64')", 0),
            ("JSONExtract(@@, 'zz', 'Array(Int64)')", []),
            ("JSON_VALUE(@@, '$.a')", "hello"),
            ("JSON_VALUE(@@, '$.b')", ""),  # non-scalar match → ''
            ("JSON_QUERY(@@, '$.a')", '["hello"]'),
            # round 17: the variant round-trip re-serializes
            # canonically (200.0 → 200) — the same documented delta as
            # JSONExtractRaw; in exchange the value KIND survives
            # (numeric-looking strings stay quoted)
            ("JSON_QUERY(@@, '$.b')", "[[-100,200,300]]"),
            ("JSON_QUERY(@@, '$.zz')", ""),
            ("JSON_EXISTS(@@, '$.b[1]')", True),
            ("JSON_EXISTS(@@, '$.zz')", False),
        ],
    )
    def test_vectors(self, spark, expr, expected):
        assert _val(spark, "SELECT " + expr.replace("@@", self.J)) == expected

    def test_map_type(self, spark):
        assert _val(
            spark,
            'SELECT JSONExtract(\'{"m":{"x":1}}\', \'m\','
            " 'Map(String, Int64)')",
        ) == {"x": 1}

    def test_unmapped_type_guided(self):
        from mcp_clickhouse_spark.dialect import DialectError

        with pytest.raises(DialectError, match="unmapped ClickHouse type"):
            translate("SELECT JSONExtract(j, 'a', 'Tuple(Int64)') FROM t")


class TestCollateRewrite:
    """CH ORDER BY x COLLATE 'locale' → Spark's postfix COLLATE
    identifier (both sort through ICU; the quoted spelling was a parse
    error — round-16 probe)."""

    def test_locale_sort(self, spark):
        q = (
            "SELECT s FROM (SELECT 'b' AS s UNION ALL SELECT 'A'"
            " UNION ALL SELECT 'a') ORDER BY s COLLATE 'en'"
        )
        assert [r.s for r in spark.sql(translate(q)).collect()] == [
            "a", "A", "b",
        ]

    def test_desc_composes(self, spark):
        q = (
            "SELECT s FROM (SELECT 'b' AS s UNION ALL SELECT 'A')"
            " ORDER BY s COLLATE 'en' DESC"
        )
        assert [r.s for r in spark.sql(translate(q)).collect()] == ["b", "A"]

    def test_string_literal_opaque(self):
        assert translate("SELECT 'x COLLATE Y' AS lit") == (
            "SELECT 'x COLLATE Y' AS lit"
        )


class TestSplitByStringEmptySeparator:
    def test_literal_empty_splits_to_chars(self, spark):
        # CH docs: splitByString('', 'abc') = ['a','b','c'] — Spark's
        # split appended a trailing ''
        assert _val(spark, "SELECT splitByString('', 'abc')") == [
            "a", "b", "c",
        ]

    def test_computed_empty_separator(self, spark):
        assert _val(
            spark,
            "SELECT splitByString(IF(1 = 1, '', ','), 'ab')",
        ) == ["a", "b"]

    def test_max_substrings_with_empty_sep(self, spark):
        assert _val(spark, "SELECT splitByString('', 'abcd', 2)") == [
            "a", "b",
        ]

    def test_normal_separator_regression(self, spark):
        assert _val(spark, "SELECT splitByString(', ', 'a, b, c')") == [
            "a", "b", "c",
        ]
        assert _val(spark, "SELECT splitByString('.', 'a.b')") == ["a", "b"]


class TestNoExponentialExpansion:
    """Templates that reference their argument many times must not
    explode exponentially under nesting (round 16: the combinator fuzz
    OOM'd the JVM on toYearWeek nested 3 deep — ~20 copies per level;
    division chains a/b/c/d have the same 4^depth shape).  Long
    subexpressions are now bound ONCE through a single-element
    transform lambda (_bind_once / the week binder)."""

    def test_nested_toyearweek_stays_small(self):
        q = (
            "SELECT toYearWeek(addDays(toDate('2024-01-01'), abs("
            "toYearWeek(addDays(toDate('2024-01-01'), abs("
            "toYearWeek(addDays(toDate('2024-01-01'), abs(x) % 365))"
            ") % 365))) % 365)) AS v FROM t"
        )
        assert len(translate(q)) < 50_000

    def test_division_chain_stays_small(self):
        q = "SELECT " + "/".join(f"c{i}" for i in range(12)) + " AS r FROM t"
        assert len(translate(q)) < 200_000

    def test_nested_week_values_still_correct(self, spark):
        # shadow-safety of the uniqued lambda variables + value check:
        # toWeek('2024-03-05') = 9 (mode 0), 9 % 7 = 2 → 2024-01-03,
        # which pre-dates mode 0's first Sunday-started week of 2024 →
        # year-rolls to 2023 week 53 (the r14 docs-pinned mode table)
        assert _val(
            spark,
            "SELECT toYearWeek(addDays(toDate('2024-01-01'),"
            " toWeek(toDate('2024-03-05')) % 7))",
        ) == 202353

    def test_short_division_keeps_plain_case(self):
        out = translate("SELECT a / b AS r FROM t")
        assert "transform(" not in out and "CASE WHEN (b) = 0" in out


class TestCutWWW:
    def test_with_scheme(self, spark):
        assert _val(spark, "SELECT cutWWW('http://www.example.com/p')") == (
            "http://example.com/p"
        )

    def test_without_scheme(self, spark):
        assert _val(spark, "SELECT cutWWW('www.example.com/p')") == (
            "example.com/p"
        )

    def test_no_www_unchanged(self, spark):
        assert _val(spark, "SELECT cutWWW('http://example.com/www.x')") == (
            "http://example.com/www.x"
        )
