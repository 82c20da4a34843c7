"""ClickHouse→Spark dialect translation: translate CH-style SQL, execute on
Spark, assert exact values (the reference's query language accepted as-is)."""

from __future__ import annotations

import gc
import math
import time
import re

import pytest

from mcp_clickhouse_spark.dialect import translate
from mcp_clickhouse_spark.session import register_testdata
from mcp_clickhouse_spark.tools import run_select_query


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    register_testdata(spark, sf_dir)


def one(spark, ch_sql):
    res = run_select_query(spark, ch_sql, dialect="clickhouse")
    return res["rows"][0]


def test_translate_pure_strings():
    assert translate("SELECT toYear(d), toYYYYMM(d) FROM t") == (
        "SELECT year(d), date_format(d, 'yyyyMM') FROM t"
    )
    assert translate("SELECT multiIf(a, 1, b, 2, 3)") == (
        "SELECT CASE WHEN a THEN 1 WHEN b THEN 2 ELSE 3 END"
    )
    assert translate("SELECT quantile(0.5)(x) FROM t") == (
        "SELECT percentile(x, 0.5) FROM t"
    )
    # names inside string literals are untouched
    assert translate("SELECT 'toYear(d)' AS s") == "SELECT 'toYear(d)' AS s"
    # nested calls translate inside-out
    # round 15: unsigned conversions wrap modularly like CH
    assert translate("SELECT toString(toUInt32(x))") == (
        "SELECT CAST(CAST(pmod(CAST(x AS BIGINT), 4294967296) AS BIGINT)"
        " AS STRING)"
    )
    assert translate("SELECT CAST(x AS UInt64)") == "SELECT CAST(x AS DECIMAL(20,0))"
    assert translate("SELECT x::UInt32") == "SELECT x::BIGINT"


def test_scalar_functions_execute(spark):
    row = one(
        spark,
        """
        SELECT
          toYear(o_orderdate) AS y,
          toStartOfMonth(o_orderdate) AS ms,
          toYYYYMM(o_orderdate) AS ym,
          toString(o_orderkey) AS ks,
          toUInt32(o_orderkey) AS ku,
          if(o_totalprice > 0, 'pos', 'neg') AS sgn,
          multiIf(o_totalprice < 1000, 'small', o_totalprice < 100000, 'mid', 'big') AS band
        FROM orders ORDER BY o_orderkey LIMIT 1
        """,
    )
    assert row[0] >= 1992 and row[2] == f"{row[0]}{row[1].month:02d}"
    assert row[5] == "pos" and row[6] in ("small", "mid", "big")


def test_aggregates_execute(spark):
    row = one(
        spark,
        """
        SELECT
          uniqExact(o_custkey) AS u,
          countIf(o_totalprice > 100000) AS big,
          sumIf(o_totalprice, o_orderstatus = 'F') AS sum_f,
          argMax(o_custkey, o_orderkey) AS last_cust,
          median(o_totalprice) AS med,
          quantile(0.9)(o_totalprice) AS p90
        FROM orders
        """,
    )
    assert row[0] > 0 and row[1] > 0 and row[4] <= row[5]


def test_array_functions_execute(spark):
    row = one(
        spark,
        """
        SELECT
          arrayMap(x -> x * 2, [1, 2, 3]) AS doubled,
          arrayFilter(x -> x > 1, [1, 2, 3]) AS filtered,
          arraySum([1.0, 2.0, 3.5]) AS s,
          has([1, 2, 3], 2) AS h,
          indexOf([10, 20, 30], 20) AS idx,
          range(4) AS r
        """,
    )
    assert row[0] == [2, 4, 6]
    assert row[1] == [2, 3]
    assert row[2] == 6.5
    assert row[3] is True
    assert row[4] == 2
    assert row[5] == [0, 1, 2, 3]


def test_json_and_string_functions(spark):
    row = one(
        spark,
        """
        SELECT
          JSONExtractString(props, 'k') AS k_str,
          JSONExtractInt(props, 'k') AS k_int,
          JSONHas(props, 'missing') AS has_missing,
          position(event_type, 'i') AS pos_i,
          replaceAll(event_type, 'i', '!') AS repl
        FROM events ORDER BY event_id LIMIT 1
        """,
    )
    assert row[0] is not None and int(row[0]) == row[1]
    assert row[2] is False


def test_datetime_arithmetic(spark):
    row = one(
        spark,
        """
        SELECT
          addDays(toDate('2024-01-01'), 30) AS plus30,
          addMonths(toDate('2024-01-31'), 1) AS plusm,
          addHours(toDateTime('2024-01-01 00:00:00'), 5) AS plus5h,
          dateDiff('day', toDate('2024-01-01'), toDate('2024-02-01')) AS dd,
          toDayOfWeek(toDate('2024-01-01')) AS dow_monday
        """,
    )
    assert str(row[0]) == "2024-01-31"
    assert str(row[1]) == "2024-02-29"
    assert row[3] == 31
    assert row[4] == 1  # 2024-01-01 is a Monday; CH counts Monday=1


def test_hash_and_misc(spark):
    row = one(
        spark,
        """
        SELECT
          MD5('abc') AS m,
          SHA256('abc') AS s,
          cityHash64('abc') AS c,
          hex('AB') AS h,
          ifNull(NULL, 42) AS i
        """,
    )
    assert row[0] == "900150983cd24fb0d6963f7d28e17f72"
    assert row[1].startswith("ba7816bf")
    assert isinstance(row[2], int)
    assert row[3] == "4142"
    assert row[4] == 42


def test_ipv4_num_to_string(spark):
    assert one(spark, "SELECT IPv4NumToString(3232235777) AS ip")[0] == "192.168.1.1"


def test_uint64_policy(spark):
    """UInt64 → DECIMAL(20,0): the one lossy corner of the type mapping
    (SURVEY §1.3) — full unsigned range survives."""
    row = one(spark, "SELECT toUInt64('18446744073709551615') AS big")
    assert str(row[0]) == "18446744073709551615"


def test_parametric_quantiles_array(spark):
    row = one(spark, "SELECT quantiles(0.25, 0.75)(o_totalprice) AS qs FROM orders")
    assert len(row[0]) == 2 and row[0][0] <= row[0][1]


def test_array_sum_and_literals(spark):
    row = one(spark, "SELECT arraySum(arrayMap(x -> x * 1.5, [1, 2, 3])) AS s")
    assert row[0] == 9.0


def test_limit_by_clause(spark):
    # top-2 orders per status by price — ClickHouse LIMIT n BY syntax
    res = run_select_query(
        spark,
        """
        SELECT o_orderstatus, o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2 BY o_orderstatus
        """,
        dialect="clickhouse",
    )
    rows = res["rows"]
    from collections import Counter

    per_status = Counter(r[0] for r in rows)
    assert all(v == 2 for v in per_status.values()) and len(per_status) >= 2
    # presentation order preserved: descending price overall
    prices = [r[2] for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_limit_by_with_tail_limit(spark):
    res = run_select_query(
        spark,
        "SELECT o_orderstatus, o_orderkey FROM orders "
        "ORDER BY o_orderkey LIMIT 3 BY o_orderstatus LIMIT 5",
        dialect="clickhouse",
    )
    assert len(res["rows"]) == 5
    # the BY list ends at the next LIMIT in code, never at one inside a
    # string literal of the BY list itself
    out = translate("SELECT a FROM t LIMIT 1 BY concat(b, 'LIMIT')")
    assert "PARTITION BY concat(b, 'LIMIT') ORDER BY" in out
    assert out.endswith("WHERE __rn <= 1")


def test_non_ascii_identifiers_pass_through():
    """A non-ASCII letter starts a word like an ASCII one: the identifier
    passes through the division, IN and ternary scans unchanged."""
    assert translate("SELECT café + 1 FROM t") == "SELECT café + 1 FROM t"
    assert translate("SELECT café / 2 FROM t") == "SELECT café / 2 FROM t"
    assert translate("SELECT café IN (1,2) FROM t") == (
        "SELECT (((café) IS NOT NULL) AND ((café) IN (1, 2))) FROM t"
    )
    assert translate("SELECT x > 0 ? café : 1 FROM t") == (
        "SELECT CASE WHEN x > 0 THEN café ELSE 1 END FROM t"
    )


def test_lambda_variable_not_substituted_in_escaped_literal(spark):
    """A lambda body's string literal may hold a backslash-escaped quote;
    the variable is substituted in code only, never inside the literal."""
    out = translate(r"SELECT arraySort(x -> concat(x, 'a\'x'), arr) FROM t")
    assert r"concat(_ch_sort_l, 'a\'x')" in out and "_ch_sort_l'" not in out
    out = translate(r"SELECT arrayFirstIndex(x -> x = 'a\'x', arr) FROM t")
    assert r"= 'a\'x'" in out
    out = translate(r"SELECT mapApply((k, v) -> (k, concat(v, 'k\'v')), m) FROM t")
    assert r"concat(__ma.value, 'k\'v')" in out
    # and the translations run: the literal is the one the user wrote
    assert one(spark, r"SELECT arraySort(x -> concat(x, 'a\'x'), ['b', 'a'])")[0] == ["a", "b"]
    assert one(spark, r"SELECT arrayFirstIndex(x -> x = 'a\'x', ['q', 'a\'x'])")[0] == 2
    assert one(
        spark, r"SELECT mapApply((k, v) -> (k, concat(v, 'k\'v')), map('a', 'b'))"
    )[0] == {"a": "bk'v"}


def test_lambda_variable_substituted_in_quoted_identifier(spark):
    """A lambda body may name its parameter as a quoted identifier
    (`` `x` `` or ``"x"``, as ClickHouse allows): that is the parameter and
    is substituted; the same text inside a string literal is not."""
    out = translate("SELECT arraySort(x -> -`x`, arr) FROM t")
    assert "-_ch_sort_l" in out and "`x`" not in out
    out = translate("SELECT arrayFirstIndex(x -> \"x\" = '`x`', arr) FROM t")
    assert "element_at(arr, __pi) = '`x`'" in out
    out = translate("SELECT mapApply((k, v) -> (`k`, \"v\"), m) FROM t")
    assert "'key', __ma.key, 'value', __ma.value" in out
    assert translate("SELECT arrayMap(x -> `xx` + x, arr) FROM t").count("`xx`") == 1
    assert one(spark, "SELECT arraySort(x -> -`x`, [1, 3, 2])")[0] == [3, 2, 1]


def test_prompt_exists():
    from mcp_clickhouse_spark.prompt import INITIAL_PROMPT

    assert "read-only" in INITIAL_PROMPT.lower()
    assert "file(" in INITIAL_PROMPT


def test_readonly_still_enforced_in_dialect_mode(spark):
    from mcp_clickhouse_spark.tools import ToolError

    with pytest.raises(ToolError):
        run_select_query(spark, "DROP TABLE orders", dialect="clickhouse")


def test_split_by_string_swaps_args_and_quotes_regex(spark):
    # Advisor finding: plain rename to split() swapped nothing and treated
    # '.' as a regex (splitting on every char).
    row = one(spark, "SELECT splitByString('.', 'a.b.c') AS parts")
    assert row[0] == ["a", "b", "c"]
    row = one(spark, "SELECT splitByChar('|', 'x|y|z') AS parts")
    assert row[0] == ["x", "y", "z"]
    # regex metachars in the separator stay literal
    row = one(spark, "SELECT splitByString('[*]', 'a[*]b') AS parts")
    assert row[0] == ["a", "b"]


def test_extract_two_arg_regex_and_ansi_form(spark):
    row = one(spark, r"SELECT extract('abc123def', '\\d+') AS num")
    assert row[0] == "123"
    # ANSI EXTRACT(YEAR FROM ts) must pass through, not crash (advisor).
    row = one(
        spark,
        "SELECT EXTRACT(YEAR FROM o_orderdate) AS y FROM orders ORDER BY o_orderkey LIMIT 1",
    )
    assert row[0] >= 1992


def test_format_placeholder_conversion(spark):
    row = one(spark, "SELECT format('{}-{}', 'a', 'b') AS s")
    assert row[0] == "a-b"
    row = one(spark, "SELECT format('{1} {0}', 'w', 'h') AS s")
    assert row[0] == "h w"
    row = one(spark, "SELECT format('{{}}{}', 'x') AS s")
    assert row[0] == "{}x"


def test_split_three_arg_discards_remainder(spark):
    """CH default: max_substrings discards the remainder (advisor r2)."""
    row = one(spark, "SELECT splitByChar(',', '1,2,3', 2) AS parts")
    assert row[0] == ["1", "2"]
    row = one(spark, "SELECT splitByString('.', 'a.b.c.d', 3) AS parts")
    assert row[0] == ["a", "b", "c"]


def test_format_preserves_escaped_quote(spark):
    """format('it''s {}', x) renders the quote once (advisor r2)."""
    row = one(spark, "SELECT format('it''s {}', 'x') AS s")
    assert row[0] == "it's x"


def test_with_totals_becomes_grouping_sets(spark):
    res = run_select_query(
        spark,
        "SELECT o_orderstatus, count() AS n FROM orders "
        "GROUP BY o_orderstatus WITH TOTALS",
        dialect="clickhouse",
    )
    rows = res["rows"]
    totals = [r for r in rows if r[0] is None]
    regular = [r for r in rows if r[0] is not None]
    assert len(totals) == 1
    # the totals row aggregates everything
    assert totals[0][1] == sum(r[1] for r in regular)


def test_with_totals_requires_group_by():
    from mcp_clickhouse_spark.dialect import DialectError, translate

    import pytest

    with pytest.raises(DialectError):
        translate("SELECT 1 WITH TOTALS")


def test_with_fill_densifies_axis(spark):
    res = run_select_query(
        spark,
        "SELECT o_orderkey % 10 AS bucket, count() AS n FROM orders "
        "WHERE o_orderkey % 10 IN (1, 3) GROUP BY bucket "
        "ORDER BY bucket WITH FILL FROM 0 TO 10 STEP 1",
        dialect="clickhouse",
    )
    rows = res["rows"]
    buckets = [r[0] for r in rows]
    # dense axis 0..9 (TO is exclusive), original rows intact
    assert buckets == list(range(10))
    filled = {r[0]: r[1] for r in rows}
    assert filled[1] is not None and filled[3] is not None
    assert filled[0] is None and filled[9] is None


def test_with_fill_keeps_out_of_range_rows(spark):
    res = run_select_query(
        spark,
        "SELECT o_orderkey % 10 AS bucket, count() AS n FROM orders "
        "GROUP BY bucket ORDER BY bucket WITH FILL FROM 0 TO 5 STEP 1",
        dialect="clickhouse",
    )
    buckets = [r[0] for r in res["rows"]]
    assert buckets == list(range(10))  # 5..9 survive the fill join


def test_with_fill_unbounded_raises():
    from mcp_clickhouse_spark.dialect import DialectError, translate

    import pytest

    with pytest.raises(DialectError):
        translate("SELECT x FROM t ORDER BY x WITH FILL")
    # AS-expression of the column itself translates (round-7 — the
    # aggregate() fold); an expression over ANOTHER column keeps the
    # guided pointer at the operator API
    out = translate(
        "SELECT x, y FROM t ORDER BY x WITH FILL FROM 0 TO 5 STEP 1 "
        "INTERPOLATE (y AS y + 1)"
    )
    assert "aggregate(sequence" in out and "__fill_acc.y + 1" in out
    # round 8: cross-column references translate (carried in the fold
    # struct); referencing the fill AXIS itself stays guided
    out2 = translate(
        "SELECT x, y, z FROM t ORDER BY x WITH FILL FROM 0 TO 5 STEP 1 "
        "INTERPOLATE (y AS z + 1)"
    )
    assert "__fill_acc.z + 1" in out2 and "'z', z" in out2
    with pytest.raises(DialectError, match="fill axis"):
        translate(
            "SELECT x, y FROM t ORDER BY x WITH FILL FROM 0 TO 5 STEP 1 "
            "INTERPOLATE (y AS x + 1)"
        )


def test_with_fill_interpolate_prev_fills(spark):
    """SQL-text INTERPOLATE (bare columns) carries the previous value onto
    generated rows — the CH default (round-6; replaced the guided error)."""
    res = run_select_query(
        spark,
        "SELECT o_orderkey % 10 AS bucket, count() AS n FROM orders "
        "WHERE o_orderkey % 10 IN (1, 3) GROUP BY bucket "
        "ORDER BY bucket WITH FILL FROM 0 TO 10 STEP 1 INTERPOLATE (n)",
        dialect="clickhouse",
    )
    cols = res["columns"]
    rows = [dict(zip(cols, r)) for r in res["rows"]]
    by_bucket = {r["bucket"]: r["n"] for r in rows}
    assert sorted(by_bucket) == list(range(10))
    assert by_bucket[0] is None  # nothing before the first real row
    assert by_bucket[2] == by_bucket[1]  # prev-filled
    assert by_bucket[9] == by_bucket[3]  # carried forward to the end


def test_datetime_interval_family(spark):
    """Round-4 breadth: dateTrunc/age/toStartOfInterval/toInterval*/bitCount/
    splitByWhitespace/positionCaseInsensitive."""
    from mcp_clickhouse_spark.dialect import translate

    def one(sql):
        return spark.sql(translate(sql)).collect()[0][0]

    assert one("SELECT bitCount(7)") == 3
    assert one("SELECT age('day', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31')") == 30
    assert str(one("SELECT dateTrunc('hour', TIMESTAMP '2024-01-01 10:47:00')")) == (
        "2024-01-01 10:00:00"
    )
    assert str(
        one(
            "SELECT toStartOfInterval(TIMESTAMP '2024-01-01 10:47:11',"
            " INTERVAL 15 MINUTE)"
        )
    ) == "2024-01-01 10:45:00"
    assert one("SELECT splitByWhitespace(' a b  c ')") == ["a", "b", "c"]
    assert one("SELECT positionCaseInsensitive('Hello', 'LL')") == 3
    assert (
        str(one("SELECT CAST(TIMESTAMP '2024-01-01 00:00:00' + toIntervalDay(3) AS STRING)"))
        == "2024-01-04 00:00:00"
    )


def test_to_start_of_interval_rejects_calendar_units():
    import pytest as _pytest

    from mcp_clickhouse_spark.dialect import translate

    # MONTH translates since round 13 (months-since-epoch buckets);
    # WEEK stays guided (the CH week-interval anchor is not docs-pinned)
    assert "make_date" in translate(
        "SELECT toStartOfInterval(ts, INTERVAL 1 MONTH) FROM events"
    )
    with _pytest.raises(ValueError, match="untranslatable"):
        translate("SELECT toStartOfInterval(ts, INTERVAL 2 WEEK) FROM events")


def test_array_manipulation_family(spark):
    """Round-4 breadth: arrayFirst/Last/Count, hasAll, push/pop/resize,
    countEqual, arrayDifference/CumSum, substringIndex, *OrZero, unix64."""
    from mcp_clickhouse_spark.dialect import translate

    def one(sql):
        v = spark.sql(translate(sql)).collect()[0][0]
        return list(v) if isinstance(v, (list, tuple)) else v

    assert one("SELECT arrayFirst(x -> x > 2, [1,3,4])") == 3
    assert one("SELECT arrayLast(x -> x > 2, [1,3,4])") == 4
    # no-match must NOT raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI
    # (ADVICE r5: element_at(…, 1) on the empty filter result throws);
    # CH returns the type default, we return NULL / index 0
    assert one("SELECT arrayFirst(x -> x > 9, [1,3,4])") is None
    assert one("SELECT arrayLast(x -> x > 9, [1,3,4])") is None
    assert one("SELECT arrayFirstIndex(x -> x > 3, [1,3,4])") == 3
    assert one("SELECT arrayFirstIndex(x -> x > 9, [1,3,4])") == 0
    assert one("SELECT arrayCount(x -> x > 2, [1,3,4])") == 2
    assert one("SELECT arrayCount([0,1,2,0])") == 2
    assert one("SELECT hasAll([1,2,3], [1,3])") is True
    assert one("SELECT hasAll([1,2], [1,9])") is False
    assert one("SELECT arrayPushBack([1], 2)") == [1, 2]
    assert one("SELECT arrayPushFront([1], 0)") == [0, 1]
    assert one("SELECT arrayPopBack([1,2])") == [1]
    assert one("SELECT arrayPopFront([1,2])") == [2]
    assert one("SELECT arrayResize([1], 3, 0)") == [1, 0, 0]
    assert one("SELECT arrayResize([1,2,3], 2, 0)") == [1, 2]
    assert one("SELECT countEqual([1,2,2], 2)") == 2
    assert one("SELECT arrayDifference([1,4,9])") == [0, 3, 5]
    assert one("SELECT arrayCumSum([1,2,3])") == [1.0, 3.0, 6.0]
    assert one("SELECT substringIndex('a.b.c', '.', 2)") == "a.b"
    assert one("SELECT concatWithSeparator('-', 'a', 'b')") == "a-b"
    assert one("SELECT intDivOrZero(5, 0)") == 0
    assert one("SELECT intDivOrZero(7, 2)") == 3
    assert one("SELECT moduloOrZero(5, 0)") == 0
    assert (
        one("SELECT toUnixTimestamp64Milli(TIMESTAMP '2024-01-01 00:00:00')")
        == 1704067200000
    )


def test_arithmetic_and_first_occurrence_family(spark):
    """Round-4 landmine fixes: function-form arithmetic, add/subtract
    interval family (time-of-day preserved), dateAdd/dateSub with quoted
    units, first-occurrence-only replace, splitByNonAlpha, mapFromArrays."""
    from mcp_clickhouse_spark.dialect import translate

    def one(sql):
        v = spark.sql(translate(sql)).collect()[0][0]
        return list(v) if isinstance(v, (list, tuple)) else v

    assert one("SELECT plus(1, 2)") == 3
    assert one("SELECT minus(3, 1)") == 2
    assert one("SELECT multiply(2, 3)") == 6
    assert one("SELECT divide(6, 3)") == 2.0
    assert one("SELECT negate(5)") == -5
    assert one("SELECT exp2(3)") == 8.0
    assert one("SELECT intExp2(10)") == 1024
    ts = "TIMESTAMP '2024-02-29 10:30:00'"
    assert one(f"SELECT CAST(addWeeks({ts}, 1) AS STRING)") == "2024-03-07 10:30:00"
    # month/year arithmetic keeps the time of day (add_months would drop it)
    assert one(f"SELECT CAST(subtractYears({ts}, 1) AS STRING)") == "2023-02-28 10:30:00"
    assert one(f"SELECT CAST(addMonths({ts}, 1) AS STRING)") == "2024-03-29 10:30:00"
    assert one(
        "SELECT CAST(dateAdd('day', 3, TIMESTAMP '2024-01-01 00:00:00') AS STRING)"
    ) == "2024-01-04 00:00:00"
    assert one(
        "SELECT CAST(dateSub('hour', 2, TIMESTAMP '2024-01-01 10:00:00') AS STRING)"
    ) == "2024-01-01 08:00:00"
    # first-occurrence-only (Spark builtins replace ALL)
    assert one("SELECT replaceOne('aaa', 'a', 'b')") == "baa"
    assert one("SELECT replaceOne('xyz', 'q', 'b')") == "xyz"
    assert one("SELECT replaceRegexpOne('a1b2', '[0-9]', '')") == "ab2"
    assert one("SELECT replaceRegexpAll('a1b2', '[0-9]', '')") == "ab"
    assert one("SELECT splitByNonAlpha('ab1./cd')") == ["ab1", "cd"]
    assert one("SELECT mapFromArrays(['a'], [1])['a']") == 1


def test_bit_finiteness_conversion_family(spark):
    """Round-4 breadth: bit-op function forms, float classification,
    toTypeName, arrayStringConcat, and the to*OrNull/OrZero families."""
    from mcp_clickhouse_spark.dialect import translate

    def one(sql):
        return spark.sql(translate(sql)).collect()[0][0]

    assert one("SELECT bitAnd(12, 10)") == 8
    assert one("SELECT bitOr(12, 10)") == 14
    assert one("SELECT bitXor(12, 10)") == 6
    assert one("SELECT bitNot(0)") == -1
    assert one("SELECT bitShiftLeft(1, 4)") == 16
    assert one("SELECT bitShiftRight(16, 4)") == 1
    assert one("SELECT isNaN(sqrt(-1.0))") is True
    assert one("SELECT isFinite(1.5)") is True
    assert one("SELECT isInfinite(double('Infinity'))") is True
    assert one("SELECT isInfinite(1.0)") is False
    assert one("SELECT ifNotFinite(double('Infinity'), 99.0)") == 99.0
    assert one("SELECT toTypeName(1)") == "int"
    assert one("SELECT arrayStringConcat(['a','b'])") == "ab"
    assert one("SELECT arrayStringConcat(['a','b'], '-')") == "a-b"
    assert one("SELECT toInt64OrNull('abc')") is None
    assert one("SELECT toInt64OrNull('42')") == 42
    assert one("SELECT toInt64OrZero('abc')") == 0
    assert one("SELECT toFloat64OrNull('1.5')") == 1.5
    assert one("SELECT toUInt32OrZero('x')") == 0
    assert one("SELECT toDateOrNull('nope')") is None


def test_array_math_and_geo_functions_execute(spark):
    row = one(
        spark,
        """
        SELECT
          arrayProduct([2.0, 3.0, 4.0]) AS prod,
          arrayUniq([1, 2, 2, 3, 3, 3]) AS uniq1,
          arrayUniq([1, 1, 2], [1, 2, 2]) AS uniq2,
          arrayReverseSort([3, 1, 2]) AS rsorted,
          formatReadableSize(512) AS b,
          formatReadableSize(1536) AS kib,
          formatReadableSize(3 * 1048576) AS mib,
          greatCircleDistance(0.0, 0.0, 0.0, 1.0) AS one_deg_lat,
          geoDistance(0.0, 0.0, 0.0, 1.0) AS one_deg_lat2
        """,
    )
    assert row[0] == 24.0
    assert row[1] == 3
    assert row[2] == 3  # tuples (1,1),(1,2),(2,2)
    assert row[3] == [3, 2, 1]
    assert row[4] == "512.00 B" and row[5] == "1.50 KiB" and row[6] == "3.00 MiB"
    # one degree of latitude on the 6371 km sphere ≈ 111.195 km
    assert abs(row[7] - 111195) < 10 and row[7] == row[8]


def test_topk_weighted_operator(spark):
    from mcp_clickhouse_spark.operators import top_k_weighted

    df = spark.createDataFrame(
        [("g", "a", 1), ("g", "a", 1), ("g", "b", 10), ("g", "c", 5)],
        "grp string, v string, w long",
    )
    rows = top_k_weighted(df, ["grp"], "v", "w", 2).orderBy("rk").collect()
    assert [(r.v, r.total_weight, r.rk) for r in rows] == [("b", 10, 1), ("c", 5, 2)]


def test_extract_settings_edge_cases():
    """Round-5 review regressions: FORMAT after SETTINGS keeps its space,
    string literals never match, quoted values may contain commas/quotes."""
    from mcp_clickhouse_spark.dialect import extract_settings

    sql, st = extract_settings(
        "SELECT count(*) AS n FROM users SETTINGS max_execution_time=5 FORMAT JSON"
    )
    assert sql == "SELECT count(*) AS n FROM users FORMAT JSON"
    assert st == {"max_execution_time": "5"}

    sql, st = extract_settings("SELECT * FROM logs WHERE msg = 'retry SETTINGS readonly=1'")
    assert st == {} and sql.endswith("readonly=1'")

    sql, st = extract_settings(
        "SELECT x FROM t SETTINGS join_algorithm='hash,parallel_hash', max_execution_time=5"
    )
    assert sql == "SELECT x FROM t"
    assert st == {"join_algorithm": "hash,parallel_hash", "max_execution_time": "5"}

    sql, st = extract_settings("SELECT a FROM t SETTINGS note='it''s quoted'")
    assert st == {"note": "it's quoted"}

    sql, st = extract_settings("SELECT 'FORMAT JSON'")
    assert sql == "SELECT 'FORMAT JSON'" and st == {}

    # the translator drops the same clause, quoted values included
    assert translate("SELECT 1 AS x SETTINGS k='1,2'") == "SELECT 1 AS x "


def test_join_modifier_rewrites_execute(spark):
    """GLOBAL drops (Spark plans distribution itself); ARRAY JOIN becomes
    LATERAL VIEW explode; ANY/ASOF in SQL text raise with operator pointers."""
    from mcp_clickhouse_spark.dialect import translate

    res = run_select_query(
        spark,
        "SELECT n_name, r_name FROM nation GLOBAL INNER JOIN region "
        "ON nation.n_regionkey = region.r_regionkey ORDER BY n_name LIMIT 2",
        dialect="clickhouse",
    )
    assert len(res["rows"]) == 2

    res2 = run_select_query(
        spark,
        "SELECT x FROM (SELECT array(1, 2, 3) AS arr) ARRAY JOIN arr AS x",
        dialect="clickhouse",
    )
    assert sorted(r[0] for r in res2["rows"]) == [1, 2, 3]

    # RIGHT ANY translates since round 8 (dedups the LEFT side)
    r_any = translate("SELECT a FROM t1 ANY RIGHT JOIN t2 USING (k)")
    assert "RIGHT JOIN" in r_any and "row_number()" in r_any
    with pytest.raises(Exception, match="asof_join"):
        # no inequality conjunct -> not provably ASOF-rewritable
        translate("SELECT a FROM t1 ASOF JOIN t2 ON t1.k = t2.k")
    # literals stay untouched
    assert translate("SELECT 'GLOBAL JOIN text' AS s") == "SELECT 'GLOBAL JOIN text' AS s"


def test_sql_asof_join_executes(spark, sf_dir):
    """Verbatim ClickHouse ASOF JOIN SQL executes (round-5 verdict missing
    #1): result must equal the DataFrame operator it mirrors
    (operators/asof_join.py)."""
    from mcp_clickhouse_spark.operators import asof_join
    from mcp_clickhouse_spark.session import read_table

    ch = """
    SELECT e.event_id, e.user_id, e.ts, s.ts AS ts_r, s.value AS value_r
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup') e
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
    ON e.user_id = s.user_id AND e.ts >= s.ts
    """
    got = run_select_query(spark, ch, dialect="clickhouse")
    ev = read_table(spark, sf_dir, "events")
    import pyspark.sql.functions as F

    left = ev.where(F.col("event_type") != "signup").select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "signup").select("user_id", "ts", "value")
    want = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts", right_cols=["value"]
    ).select("event_id", "user_id", "ts", "ts_r", "value_r")
    assert got["columns"] == want.columns
    assert sorted(map(tuple, got["rows"])) == sorted(map(tuple, want.collect()))
    # strict > excludes exact-timestamp matches
    strict = run_select_query(
        spark,
        ch.replace("e.ts >= s.ts", "e.ts > s.ts"),
        dialect="clickhouse",
    )
    assert len(strict["rows"]) == len(got["rows"])  # LEFT keeps all left rows
    # INNER drops unmatched left rows
    inner = run_select_query(
        spark,
        ch.replace("ASOF LEFT JOIN", "ASOF JOIN"),
        dialect="clickhouse",
    )
    matched = [r for r in got["rows"] if r[3] is not None]
    assert len(inner["rows"]) == len(matched)


def test_sql_any_join_executes(spark):
    """Verbatim CH ANY LEFT JOIN (both spellings + USING) — one right row
    per key, deterministic min-by-all-columns pick."""
    ch = """
    SELECT c.c_custkey, c.c_name, o.o_orderkey
    FROM customer c
    ANY LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders) o
    ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey <= 20
    """
    got = run_select_query(spark, ch, dialect="clickhouse")
    assert len(got["rows"]) == 21  # one row per customer (keys 0..20)
    # the deterministic pick is the minimum orderkey per customer
    want = run_select_query(
        spark,
        "SELECT o_custkey, min(o_orderkey) AS mk FROM orders"
        " WHERE o_custkey <= 20 GROUP BY o_custkey",
    )
    mins = {r[0]: r[1] for r in want["rows"]}
    for ck, _name, ok in got["rows"]:
        assert ok == mins.get(ck)
    # alternate spelling + USING form
    using = run_select_query(
        spark,
        "SELECT c_custkey, c_name FROM customer LEFT ANY JOIN"
        " (SELECT o_custkey AS c_custkey, o_orderkey FROM orders) oo"
        " USING (c_custkey) WHERE c_custkey <= 20",
        dialect="clickhouse",
    )
    assert len(using["rows"]) == 21


def test_prewhere_sample_final_execute(spark):
    from mcp_clickhouse_spark.dialect import translate

    assert translate("SELECT a FROM t PREWHERE x > 1 OR z = 3 WHERE y < 2").startswith(
        "SELECT a FROM t WHERE (x > 1 OR z = 3) AND (y < 2)"
    )
    res = run_select_query(
        spark,
        "SELECT n_name FROM nation PREWHERE n_regionkey = 0 WHERE n_nationkey < 20 "
        "ORDER BY n_name",
        dialect="clickhouse",
    )
    assert len(res["rows"]) > 0
    res2 = run_select_query(
        spark, "SELECT count(*) AS n FROM orders SAMPLE 100", dialect="clickhouse"
    )
    assert res2["rows"][0][0] <= 100
    res3 = run_select_query(
        spark,
        "SELECT n_name FROM nation FINAL WHERE n_regionkey = 0 ORDER BY n_name",
        dialect="clickhouse",
    )
    assert len(res3["rows"]) > 0
    # literals untouched
    assert translate("SELECT 'PREWHERE literal' AS s") == "SELECT 'PREWHERE literal' AS s"


def test_multi_search_and_substring_counts(spark):
    row = one(
        spark,
        """
        SELECT
          multiSearchAny('hello world', ['wor', 'xyz']) AS hit,
          multiSearchAny('hello world', ['abc', 'xyz']) AS miss,
          multiSearchAnyCaseInsensitive('Hello World', ['WOR']) AS ci,
          countSubstrings('ababab', 'ab') AS n_ab,
          countSubstrings('aaa', 'aa') AS n_aa,
          countMatches('a1b22c333', '[0-9]+') AS n_num,
          hasSubstr('haystack', 'stack') AS has
        """,
    )
    assert row[0] is True and row[1] is False and row[2] is True
    assert row[3] == 3
    assert row[4] == 1  # non-overlapping: greedy scan finds one 'aa'
    assert row[5] == 3
    assert row[6] == 1  # UInt8 contract (round-11 advisor fix)


def test_count_substrings_empty_needle(spark):
    row = one(spark, "SELECT countSubstrings('abc', '') AS n")
    assert row[0] == 0


def test_date_names_and_timeslot(spark):
    row = one(
        spark,
        """
        SELECT dateName('month', toDate('2024-03-05')) AS mn,
               dateName('weekday', toDate('2024-03-05')) AS wd,
               monthName(toDate('2024-07-05')) AS mn2,
               timeSlot(toDateTime('2024-03-05 10:47:00')) AS slot
        """,
    )
    assert row[0] == "March" and row[1] == "Tuesday" and row[2] == "July"
    assert str(row[3]).endswith("10:30:00")


def test_qualify_translates_top_level():
    # round 6: top-level QUALIFY rewrites instead of raising (CH 24.4+)
    out = translate(
        "SELECT a, row_number() OVER (ORDER BY a) AS r FROM t QUALIFY r <= 2"
    )
    assert "WHERE r <= 2" in out and not re.search(r"\bQUALIFY\b", out)
    # the word inside a string literal is untouched
    assert "QUALIFY" in translate("SELECT 'QUALIFY' AS s")


def test_aggregate_combinators_execute(spark):
    row = one(
        spark,
        """
        SELECT
          anyIf(o_orderkey, o_totalprice > 0) AS any_f,
          uniqExactIf(o_orderstatus, o_totalprice > 0) AS statuses,
          sumDistinct(o_custkey) AS sd,
          quantileIf(0.5)(o_totalprice, o_totalprice > 0) AS med_pos
        FROM orders
        """,
    )
    assert row[0] is not None and row[1] >= 1 and row[3] > 0


def test_array_combinators_execute(spark):
    row = one(
        spark,
        """
        SELECT sumArray(a) AS s, avgArray(a) AS m, minArray(a) AS lo,
               maxArray(a) AS hi, countArray(a) AS n
        FROM (SELECT [1, 2, 3] AS a UNION ALL SELECT [4, 5])
        """,
    )
    assert row[0] == 15.0 and row[1] == 3.0 and row[2] == 1
    assert row[3] == 5 and row[4] == 5


def test_state_merge_combinators_raise_guided_error():
    import pytest as _pytest

    for q in ("SELECT sumState(x) FROM t", "SELECT uniqMerge(s) FROM t"):
        with _pytest.raises(ValueError, match="no Spark equivalent"):
            translate(q)
    # inside string literals: untouched
    assert "sumState" in translate("SELECT 'sumState(x)' AS s")


def test_guard_not_masked_by_string_literal():
    import pytest as _pytest

    # a literal occurrence earlier in the query must not mask a real one
    with _pytest.raises(ValueError, match="sumState"):
        translate("SELECT 'doc sumState(x)' AS c, sumState(y) FROM t")
    # QUALIFY now REWRITES (round 6): the literal earlier in the query must
    # not mask the real clause, and must itself survive untouched
    out = translate("SELECT 'about QUALIFY' AS c FROM t QUALIFY r <= 2")
    assert "WHERE r <= 2" in out and "'about QUALIFY'" in out


def test_array_combinators_skip_null_elements(spark):
    # toFloat64: column-typed array args fold with the runtime probe, and
    # CH types float arrays Float64 — a bare DECIMAL column (Spark's type
    # for raw [1.0, ...] literals routed through a subquery) is the one
    # documented loud-failure corner of the typed accumulator
    row = one(
        spark,
        """
        SELECT sumArray(a) AS s, avgArray(a) AS m, countArray(a) AS n
        FROM (SELECT arrayMap(x -> toFloat64(x), [1.0, NULL, 2.0]) AS a
              UNION ALL SELECT [toFloat64(3.0)])
        """,
    )
    assert row[0] == 6.0 and row[1] == 2.0 and row[2] == 3


def test_datename_guided_errors():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dateName"):
        translate("SELECT dateName(part_col, d) FROM t")
    with _pytest.raises(ValueError, match="dateName"):
        translate("SELECT dateName('millisecond', d) FROM t")
    with _pytest.raises(ValueError, match="dateName"):
        translate("SELECT dateName('month', d, 'UTC') FROM t")


def test_url_function_family(spark):
    row = one(
        spark,
        """
        SELECT topLevelDomain('https://docs.example.co.uk/a?x=1#f') AS tld,
               pathFull('https://e.com/a/b?x=1') AS pf,
               fragment('https://e.com/a#frag') AS fr,
               extractURLParameter('https://e.com/a?x=1&y=2', 'y') AS yp,
               domainWithoutWWW('https://www.example.com/a') AS dw,
               cutQueryString('https://e.com/a?x=1#f') AS cq,
               cutQueryStringAndFragment('https://e.com/a?x=1#f') AS cqf,
               encodeURLComponent('a b&c') AS enc,
               decodeURLComponent('a%20b+c') AS dec
        """,
    )
    assert row[0] == "uk" and row[1] == "/a/b?x=1" and row[2] == "frag"
    assert row[3] == "2" and row[4] == "example.com"
    assert row[5] == "https://e.com/a#f" and row[6] == "https://e.com/a"
    # CH contract: %20 for spaces (not form '+'); '+' survives decode
    assert row[7] == "a%20b%26c" and row[8] == "a b+c"


def test_map_json_ip_bit_families(spark):
    row = one(
        spark,
        """
        SELECT
          mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3))['b'] AS mu_b,
          mapContainsKeyLike(map('abc', 1), 'ab%') AS mk,
          JSONLength('[1,2,3]') AS jl_arr,
          JSONLength('{"a":1,"b":2}') AS jl_obj,
          toJSONString(map('a', 1)) AS tj,
          IPv4StringToNum('1.2.3.4') AS ipn,
          IPv4NumToString(16909060) AS ips,
          isIPv4String('10.0.0.256') AS bad_ip,
          isIPv4String('10.0.0.25') AS good_ip,
          bitTest(5, 2) AS bt,
          bitTestAll(7, 0, 1, 2) AS bta,
          bitTestAny(4, 0, 2) AS btany,
          transform(2, [1,2], ['a','b'], 'z') AS tr4,
          transform(9, [1,2], [10,20]) AS tr3
        """,
    )
    assert row[0] == 9 and row[1] is True
    assert row[2] == 3 and row[3] == 2 and row[4] == '{"a":1}'
    assert row[5] == 16909060 and row[6] == "1.2.3.4"
    assert row[7] is False and row[8] is True
    assert row[9] == 1 and row[10] is True and row[11] is True
    assert row[12] == "b" and row[13] == 9


def test_map_filter_lambda_first(spark):
    row = one(spark, "SELECT mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS m")
    assert dict(row[0]) == {"b": 2}


def test_plain_form_parametric_aggregates(spark):
    # CH quantile(x) without a level == the median; previously the rewriter
    # silently swallowed any plain-form parametric call to empty output
    row = one(spark, "SELECT quantile(o_totalprice) AS med FROM orders")
    assert row[0] > 0


_FUNNEL_EVENTS = """
SELECT * FROM VALUES
  (1, TIMESTAMP '2024-01-01 00:00:00', 'a'),
  (1, TIMESTAMP '2024-01-01 00:10:00', 'b'),
  (1, TIMESTAMP '2024-01-01 00:20:00', 'c'),
  (2, TIMESTAMP '2024-01-01 00:00:00', 'a'),
  (2, TIMESTAMP '2024-01-01 02:00:00', 'b'),
  (3, TIMESTAMP '2024-01-01 00:00:00', 'b'),
  (3, TIMESTAMP '2024-01-01 00:05:00', 'a'),
  (3, TIMESTAMP '2024-01-01 00:06:00', 'b'),
  (4, TIMESTAMP '2024-01-01 00:00:00', 'x')
  AS ev(u, ts, e)
"""


def test_window_funnel_sql_translates(spark):
    # round 8: windowFunnel(w)(ts, c1..cK) is ONE aggregate expression.
    # u1: a→b→c inside 3600s ⇒ 3.  u2: b lands 2h after a ⇒ 1 (window).
    # u3: early 'b' ignored (anchor = earliest 'a'), later 'b' counts ⇒ 2.
    # u4: no step-1 event ⇒ 0.
    rows = spark.sql(
        translate(
            f"SELECT u, windowFunnel(3600)(ts, e = 'a', e = 'b', e = 'c')"
            f" AS lvl FROM ({_FUNNEL_EVENTS}) GROUP BY u ORDER BY u"
        )
    ).collect()
    assert [(r.u, r.lvl) for r in rows] == [(1, 3), (2, 1), (3, 2), (4, 0)]


def test_window_funnel_reanchors_like_clickhouse(spark):
    # round 9 (r8 advisor): CH's AggregateFunctionWindowFunnel overwrites
    # the level-1 anchor on EVERY cond-1 event.  u1 is the advisor's
    # counterexample: c1@0, c1@50, c2@100 with window 60 must return 2
    # (anchored at @50), where greedy-earliest-anchor would return 1.
    # u2: equal timestamps chain in default mode (t <= anchor + w is
    # non-strict and entries sort (t, cond_idx)).  u3: re-anchoring never
    # CLEARS a deeper level already reached (c1@0,c2@5,c1@500,c3@30 ⇒ 3?
    # no — c3@30 precedes c1@500 in time order; use c1@0,c2@5,c1@8,c3@30:
    # a2 propagates anchor 0, c3@30 <= 0+60 ⇒ 3).
    rows = spark.sql(
        translate(
            "SELECT u, windowFunnel(60)(ts, e = 'a', e = 'b', e = 'c')"
            " AS lvl FROM (SELECT * FROM VALUES"
            " (1, TIMESTAMP '2024-01-01 00:00:00', 'a'),"
            " (1, TIMESTAMP '2024-01-01 00:00:50', 'a'),"
            " (1, TIMESTAMP '2024-01-01 00:01:40', 'b'),"
            " (2, TIMESTAMP '2024-01-01 00:00:00', 'a'),"
            " (2, TIMESTAMP '2024-01-01 00:00:00', 'b'),"
            " (3, TIMESTAMP '2024-01-01 00:00:00', 'a'),"
            " (3, TIMESTAMP '2024-01-01 00:00:05', 'b'),"
            " (3, TIMESTAMP '2024-01-01 00:00:08', 'a'),"
            " (3, TIMESTAMP '2024-01-01 00:00:30', 'c')"
            " AS t(u, ts, e)) GROUP BY u ORDER BY u"
        )
    ).collect()
    assert [(r.u, r.lvl) for r in rows] == [(1, 2), (2, 2), (3, 3)]


def test_window_funnel_strict_increase(spark):
    # round 9: strict_increase requires each step STRICTLY after the
    # previous step's own event — u2's equal-timestamp chain (level 2 in
    # default mode, asserted above) collapses to 1; u1's increasing chain
    # is unaffected.  Other modes keep a guided error.
    rows = spark.sql(
        translate(
            "SELECT u, windowFunnel(60, 'strict_increase')"
            "(ts, e = 'a', e = 'b') AS lvl FROM (SELECT * FROM VALUES"
            " (1, TIMESTAMP '2024-01-01 00:00:00', 'a'),"
            " (1, TIMESTAMP '2024-01-01 00:00:10', 'b'),"
            " (2, TIMESTAMP '2024-01-01 00:00:00', 'a'),"
            " (2, TIMESTAMP '2024-01-01 00:00:00', 'b')"
            " AS t(u, ts, e)) GROUP BY u ORDER BY u"
        )
    ).collect()
    assert [(r.u, r.lvl) for r in rows] == [(1, 2), (2, 1)]
    import pytest as _pytest

    from mcp_clickhouse_spark.dialect import DialectError

    # strict_order/strict_deduplication translate since round 10; unknown
    # modes keep a guided error
    with _pytest.raises(DialectError, match="unknown mode"):
        translate("SELECT windowFunnel(60, 'strict_sideways')(ts, a, b) FROM t")


_STRICT_FUNNEL_EVENTS = (
    "SELECT * FROM VALUES "
    # u1: c1@1 c2@2 c2@3 c3@4 — dup c2 before completion
    " (1, 1, 'a'), (1, 2, 'b'), (1, 3, 'b'), (1, 4, 'c'),"
    # u2: c1@1 c2@2 c3@3 c2@4 — completes BEFORE the dup arrives
    " (2, 1, 'a'), (2, 2, 'b'), (2, 3, 'c'), (2, 4, 'b'),"
    # u3: c1@1 x@2 c2@3 — non-condition event after the anchor
    " (3, 1, 'a'), (3, 2, 'x'), (3, 3, 'b'),"
    # u4: x@0 c1@1 c2@2 c3@3 — sentinel BEFORE any cond-1 is skipped
    " (4, 0, 'x'), (4, 1, 'a'), (4, 2, 'b'), (4, 3, 'c'),"
    # u5: c1@1 c3@2 c2@3 c3@4 — out-of-order condition
    " (5, 1, 'a'), (5, 2, 'c'), (5, 3, 'b'), (5, 4, 'c')"
    " AS t(u, s, e)"
)


@pytest.mark.parametrize(
    "mode,expect",
    [
        ("", {1: 3, 2: 3, 3: 2, 4: 3, 5: 3}),
        # dup c2 returns 2 mid-fold (u1); u2 completed at level 3 first
        (", 'strict_deduplication'", {1: 2, 2: 3, 3: 2, 4: 3, 5: 3}),
        # u3 freezes at 1 on the 'x' sentinel; u5 returns the filled
        # prefix (1) when c3 arrives with slot 2 empty; u4's leading
        # sentinel (before any cond-1) is skipped
        (", 'strict_order'", {1: 3, 2: 3, 3: 1, 4: 3, 5: 1}),
        (", 'strict_order', 'strict_deduplication'",
         {1: 2, 2: 3, 3: 1, 4: 3, 5: 1}),
    ],
)
def test_window_funnel_strict_modes(spark, mode, expect):
    # pinned to ClickHouse getEventLevel's exact else-if chain, including
    # the mid-fold early returns (see _funnel_general_fold)
    rows = spark.sql(
        translate(
            f"SELECT u, windowFunnel(3600{mode})("
            f"timestamp('2024-01-01') + make_interval(0,0,0,0,0,0,s),"
            f" e='a', e='b', e='c') AS lvl"
            f" FROM ({_STRICT_FUNNEL_EVENTS}) GROUP BY u ORDER BY u"
        )
    ).collect()
    assert {r.u: r.lvl for r in rows} == expect


def test_window_funnel_dedup_below_reached_level(spark):
    # the CH quirk: k=4, c1 c2 c3 then a DUP c2 — strict_deduplication
    # returns 2 even though level 3 was already reached (getEventLevel
    # returns events_list[i].second mid-scan)
    rows = spark.sql(
        translate(
            "SELECT windowFunnel(3600, 'strict_deduplication')("
            "timestamp('2024-01-01') + make_interval(0,0,0,0,0,0,s),"
            " e='a', e='b', e='c', e='d') AS lvl"
            " FROM (SELECT * FROM VALUES (1,'a'),(2,'b'),(3,'c'),(4,'b'),"
            " (5,'d') AS t(s, e))"
        )
    ).collect()
    assert rows[0].lvl == 2


_FLOW_EVENTS = (
    "SELECT id, timestamp('1970-01-01 09:00:00')"
    " + make_interval(0,0,0,0,0,0,s) AS dt, page FROM VALUES"
    " (1, 1, 'Home'), (1, 2, 'Gift'), (1, 3, 'Exit'),"
    " (2, 1, 'Home'), (2, 2, 'Home'), (2, 3, 'Gift'),"
    " (3, 1, 'Gift'), (3, 2, 'Home'), (3, 3, 'Gift')"
    " AS t(id, s, page)"
)


@pytest.mark.parametrize(
    "call,expect",
    [
        # the CH docs' forward/head example shape: base+event1 on the
        # first event, event2 on the second, result = third
        ("sequenceNextNode('forward','head')(dt, page, page='Home',"
         " page='Home', page='Gift')", {1: "Exit", 2: None, 3: None}),
        ("sequenceNextNode('forward','first_match')(dt, page,"
         " page='Gift', page='Gift')", {1: "Exit", 2: None, 3: "Home"}),
        ("sequenceNextNode('backward','last_match')(dt, page,"
         " page='Gift', page='Gift')", {1: "Home", 2: "Home", 3: "Home"}),
        ("sequenceNextNode('backward','tail')(dt, page, page='Gift',"
         " page='Gift', page='Home')", {1: None, 2: "Home", 3: "Gift"}),
    ],
)
def test_sequence_next_node(spark, call, expect):
    rows = spark.sql(
        translate(
            f"SELECT id, {call} AS n FROM ({_FLOW_EVENTS}) GROUP BY id"
        )
    ).collect()
    assert {r.id: r.n for r in rows} == expect


def test_sequence_next_node_base_condition_gates(spark):
    # base point = first event matching event1, but base_condition must
    # ALSO hold there: first Gift for id 3 is at position 1, base_condition
    # (id-dependent false) nulls it out rather than searching on
    rows = spark.sql(
        translate(
            "SELECT id, sequenceNextNode('forward','first_match')("
            "dt, page, page='Gift' AND id <> 3, page='Gift') AS n"
            f" FROM ({_FLOW_EVENTS}) GROUP BY id"
        )
    ).collect()
    assert {r.id: r.n for r in rows} == {1: "Exit", 2: None, 3: None}


def test_sequence_next_node_guided_on_unpinned_combo():
    import pytest as _pytest

    from mcp_clickhouse_spark.dialect import DialectError

    with _pytest.raises(DialectError, match="not pinned"):
        translate(
            "SELECT sequenceNextNode('backward','head')(dt, p, c, c) FROM t"
        )
    with _pytest.raises(DialectError, match="direction"):
        translate(
            "SELECT sequenceNextNode('sideways','head')(dt, p, c, c) FROM t"
        )


def test_window_funnel_strict_increase_combines(spark):
    # strict_increase composes with the strict modes: equal-timestamp
    # steps can't chain, so only level 1 is reached
    rows = spark.sql(
        translate(
            "SELECT windowFunnel(3600, 'strict_increase',"
            " 'strict_deduplication')("
            "timestamp('2024-01-01') + make_interval(0,0,0,0,0,0,s),"
            " e='a', e='b', e='c') AS lvl"
            " FROM (SELECT * FROM VALUES (1,'a'),(1,'b'),(2,'c')"
            " AS t(s, e))"
        )
    ).collect()
    assert rows[0].lvl == 1


def test_sequence_match_count_sql_translate(spark):
    # sequenceMatch is unanchored; events matching NO condition are skipped
    # (u4's 'x' row vanishes ⇒ empty string, no match). sequenceCount
    # counts non-overlapping left-to-right chains: u3 has b,a,b ⇒ one
    # (?1)(?2) chain; u1 has a,b ⇒ one.
    rows = spark.sql(
        translate(
            f"SELECT u,"
            f" sequenceMatch('(?1).*(?2)')(ts, e = 'a', e = 'b') AS sm,"
            f" sequenceCount('(?1)(?2)')(ts, e = 'a', e = 'b') AS sc"
            f" FROM ({_FUNNEL_EVENTS}) GROUP BY u ORDER BY u"
        )
    ).collect()
    assert [(r.u, r.sm, r.sc) for r in rows] == [
        (1, 1, 1),
        (2, 1, 1),
        (3, 1, 1),
        (4, 0, 0),
    ]


def test_sequence_match_bitmask_overlapping_conditions(spark):
    # one event can satisfy BOTH conditions — the bitmask token encoding
    # keeps it faithful ((?1) and (?2) both hit the same event)
    rows = spark.sql(
        translate(
            "SELECT sequenceMatch('(?1)(?2)')(ts, e IN ('a','b'), e = 'b')"
            " AS sm FROM (SELECT * FROM VALUES"
            " (TIMESTAMP '2024-01-01 00:00:00', 'a'),"
            " (TIMESTAMP '2024-01-01 00:01:00', 'b') AS t(ts, e))"
        )
    ).collect()
    assert rows[0].sm == 1
    # '.' = exactly one kept event between the anchors
    rows = spark.sql(
        translate(
            "SELECT sequenceCount('(?1).(?2)')(ts, e = 'a', e = 'b')"
            " AS sc FROM (SELECT * FROM VALUES"
            " (TIMESTAMP '2024-01-01 00:00:00', 'a'),"
            " (TIMESTAMP '2024-01-01 00:01:00', 'a'),"
            " (TIMESTAMP '2024-01-01 00:02:00', 'b') AS t(ts, e))"
        )
    ).collect()
    assert rows[0].sc == 1


def test_behavioral_parametric_guided_remainder():
    import pytest as _pytest

    from mcp_clickhouse_spark.dialect import DialectError

    # all documented funnel modes translate since round 10; time
    # constraints translate too (the backtracking matcher path —
    # tests/test_seqmatch_time.py) but the malformed forms keep guided
    # errors
    assert "aggregate(" in translate(
        "SELECT windowFunnel(3600, 'strict_order')(ts, a, b) FROM t"
    )
    assert "ch_seq_match" in translate(
        "SELECT sequenceMatch('(?1)(?t>10)(?2)')(ts, a, b) FROM t"
    )
    with _pytest.raises(DialectError, match="followed by an event"):
        translate("SELECT sequenceMatch('(?1)(?t>10)')(ts, a, b) FROM t")


def test_weighted_and_moment_aggregates(spark):
    row = one(
        spark,
        """
        SELECT groupArray(2)(x) AS ga, avgWeighted(x, w) AS aw,
               skewPop(x) AS sk, kurtPop(x) AS ku
        FROM (SELECT 1 AS x, 1 AS w UNION ALL SELECT 2, 3 UNION ALL SELECT 5, 1)
        """,
    )
    assert row[0] == [1, 2]
    assert abs(row[1] - 2.4) < 1e-12
    # population kurtosis of [1,2,5] is exactly 1.5 (m4/m2^2, non-excess)
    assert abs(row[3] - 1.5) < 1e-9


def test_topk_histogram_parametric_guided():
    import pytest as _pytest

    for q in ("SELECT topK(5)(x) FROM t", "SELECT histogram(3)(x) FROM t",
              "SELECT topKWeighted(5)(x, w) FROM t"):
        with _pytest.raises(ValueError, match="cannot be expressed"):
            translate(q)


def test_scalar_with_and_limit_offset(spark):
    # CH scalar-alias WITH is a macro, not a CTE
    assert one(spark, "WITH 2 AS a, 3 AS b SELECT a + b AS s")[0] == 5
    # mixed: scalar macro + real CTE in one WITH list
    row = one(
        spark,
        "WITH 10 AS lim, small AS (SELECT o_orderkey FROM orders LIMIT 3) "
        "SELECT count(*) + lim AS c FROM small",
    )
    assert row[0] == 13
    # an item's commas inside brackets do not split the WITH list
    assert one(spark, "WITH [1, 2] AS arr SELECT arr[2] AS v")[0] == 2
    # MySQL/CH LIMIT offset, n
    rows = run_select_query(
        spark,
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 2, 3",
        dialect="clickhouse",
    )["rows"]
    assert [r[0] for r in rows] == [2, 3, 4]
    # both constructs inside string literals stay literal
    assert one(spark, "SELECT 'WITH 5 AS n' AS s")[0] == "WITH 5 AS n"
    assert one(spark, "SELECT 'LIMIT 2, 3' AS s")[0] == "LIMIT 2, 3"


def test_string_distance_tokens_ngrams(spark):
    row = one(
        spark,
        """
        SELECT levenshteinDistance('kitten', 'sitting') AS lev,
               editDistance('ab', 'ac') AS ed,
               toValidUTF8('plain') AS tv,
               char(72, 105) AS ch,
               tokens('a-b c_d!e') AS tk,
               ngrams('abcd', 2) AS ng,
               ngrams('ab', 5) AS ng_short
        """,
    )
    assert row[0] == 3 and row[1] == 1 and row[2] == "plain" and row[3] == "Hi"
    assert row[4] == ["a", "b", "c", "d", "e"]  # "_" splits (CH ASCII tokenizer)
    assert row[5] == ["ab", "bc", "cd"] and row[6] == []


def test_datetime_fillins(spark):
    row = one(
        spark,
        """
        SELECT toMonday(toDate('2024-03-07')) AS mon,
               addQuarters(toDate('2024-01-15'), 1) AS aq,
               toYearWeek(toDate('2024-03-07')) AS yw,
               toYearWeek(toDate('2024-03-07'), 3) AS yw3,
               toRelativeDayNum(toDate('1970-01-10')) AS rd,
               makeDate(2024, 3, 7) AS md,
               makeDate(2024, 40) AS md2,
               makeDateTime(2024, 3, 7, 10, 30, 0) AS mdt,
               timestampSub(DAY, 2, toDate('2024-03-07')) AS tsub
        """,
    )
    assert str(row[0]).startswith("2024-03-04")
    # default = CH mode 0 (Sunday-start): 2024-03-07 is in week 9; ISO mode
    # 3 says week 10 (Jan 1 2024 was a Monday, so ISO is one ahead)
    assert str(row[1]) == "2024-04-15" and row[2] == 202409 and row[3] == 202410
    assert row[4] == 9
    assert str(row[5]) == "2024-03-07" and str(row[6]) == "2024-02-09"
    assert str(row[7]).startswith("2024-03-07 10:30")
    assert str(row[8]).startswith("2024-03-05")


def test_array_folds_and_math_fillins(spark):
    row = one(
        spark,
        """
        SELECT arrayFold((acc, x) -> acc + x, [1,2,3], 0) AS af,
               arrayReduce('sum', [1,2,3]) AS ar,
               arraySort(x -> -x, [1,3,2]) AS asrt,
               arraySort(x -> max2(x, 0), [3,-1,2]) AS akey,
               gcd(12, 18) AS g, gcd(1234567890123, 987654321) AS gbig,
               lcm(4, 6) AS l, intExp10(3) AS e10,
               roundToExp2(100) AS r2, halfMD5('x') AS hm
        """,
    )
    assert row[0] == 6
    # integer arrays sum to an INTEGER (CH Int64), not 6.0 (round-5 fuzz)
    assert row[1] == 6 and isinstance(row[1], int)
    assert row[2] == [3, 2, 1]
    assert row[3] == [-1, 2, 3] or row[3] == [-1, 3, 2]  # key clamps negatives to 0
    assert row[4] == 6 and row[5] == 3 and row[6] == 12
    # halfMD5 is value-faithful: first 8 bytes of md5('x'), big-endian
    assert row[7] == 1000 and row[8] == 64
    assert int(row[9]) == 0x9DD4E461268C8034


def test_array_fold_accumulator_types(spark):
    """Round-6 fix for the round-5 hypothesis-fuzz finding: arithmetic
    array folds must inherit the ELEMENT type (CH: Int* arrays sum to
    Int64, Float to Float64) — the old CAST(0 AS DOUBLE) accumulator made
    toString(arraySum([1,2])) = '3.0' (CH: '3') and crashed composed ANSI
    expressions with CAST_INVALID_INPUT."""
    import pytest as _pytest

    row = one(
        spark,
        """
        SELECT arraySum([1, 2]) AS s_int,
               toString(arraySum([1, 2])) AS s_str,
               arraySum([1.5, 2.5]) AS s_dbl,
               arraySum(CAST(array() AS ARRAY<BIGINT>)) AS s_empty,
               arraySum([1, NULL, 2]) AS s_null,
               arrayAvg([1, NULL, 2]) AS a_null,
               arraySum([9007199254740993, 1]) AS s_big,
               arrayCumSum([1, 2, 3]) AS cs,
               arrayProduct([2, 3]) AS pr
        """,
    )
    assert row[0] == 3 and isinstance(row[0], int)
    assert row[1] == "3"  # the exact CH rendering, not '3.0'
    assert row[2] == 4.0 and isinstance(row[2], float)
    assert row[3] == 0
    assert row[4] == 3  # NULL elements skipped (CH aggregate semantics)
    assert abs(row[5] - 1.5) < 1e-12  # avg denominator = non-NULL count
    # 2^53+1: a DOUBLE accumulator would round this; BIGINT keeps it exact
    assert row[6] == 9007199254740994
    assert row[7] == [1, 3, 6] and all(isinstance(v, int) for v in row[7])
    assert row[8] == 6.0  # CH arrayProduct always returns Float64
    # the crash form the fuzz found: toString(arraySum) compared to a BIGINT
    assert one(
        spark,
        "SELECT if(n_nationkey > toString(arraySum([1, 2])),"
        " n_nationkey, 0) AS v FROM nation WHERE n_nationkey = 5",
    )[0] == 5
    # -Array combinators and arrayReduce share the typed accumulator
    row = one(
        spark,
        """
        SELECT sumArray(a) AS sa, avgArray(a) AS aa
        FROM (SELECT [9007199254740993, 1] AS a)
        """,
    )
    # column args fold with a BIGINT-floor probe accumulator — the VALUE
    # stays exact past 2^53 where DOUBLE would round
    assert int(row[0]) == 9007199254740994
    assert int(one(
        spark,
        "SELECT arrayReduce('sum', a) AS ar FROM (SELECT [9007199254740993, 1] AS a)",
    )[0]) == 9007199254740994

    # murmurHash3_64 routes to the faithful UDF port as of round 7 (the
    # r5 guided error is superseded; see test_murmurhash3_64_faithful)
    assert "ch_murmurHash3_64('x')" in translate(
        "SELECT murmurHash3_64('x') FROM t"
    )
    # makeDateTime timezone argument maps onto Spark's native 7-arg
    # make_timestamp as of round 8 (was a guided error)
    assert str(one(
        spark,
        "SELECT makeDateTime(2024, 3, 7, 1, 2, 3, 'America/New_York') AS m",
    )[0]) == "2024-03-07 06:02:03"
    # avgWeighted skips NULL-value rows entirely (weight excluded too)
    assert abs(one(
        spark,
        "SELECT avgWeighted(x, w) AS aw FROM (SELECT 1 AS x, 1 AS w"
        " UNION ALL SELECT NULL, 100 UNION ALL SELECT 3, 1)",
    )[0] - 2.0) < 1e-12


def test_review_fixes_dialect_edge_cases(spark):
    # Fibonacci worst case needs >64 Euclid steps
    assert one(spark, "SELECT gcd(7540113804746346429, 4660046610375530309) AS g")[0] == 1
    # Dec/Jan boundary: default mode 0 keeps 2024-12-30 in 2024's week 52
    # (its Sunday is 2024-12-29); ISO mode 3 rolls it into 2025 week 1
    assert one(spark, "SELECT toYearWeek(toDate('2024-12-30')) AS yw")[0] == 202452
    assert one(spark, "SELECT toYearWeek(toDate('2024-12-30'), 3) AS yw")[0] == 202501
    # days before the year's first Sunday belong to the PREVIOUS year's
    # last week in mode 0 (2024-01-03's Sunday is 2023-12-31, week 53 of
    # 2023 because 2023-01-01 was itself a Sunday)
    assert one(spark, "SELECT toYearWeek(toDate('2024-01-03')) AS yw")[0] == 202353
    assert one(spark, "SELECT toYearWeek(toDate('2023-01-01')) AS yw")[0] == 202301
    # literal tz decides the LOCAL week as of round 8: 2025-01-05 02:00
    # UTC is Sunday (week 202501 starts) but still Saturday Jan 4 in NY
    assert one(
        spark,
        "SELECT toYearWeek(toDateTime('2025-01-05 02:00:00'), 0,"
        " 'America/New_York') AS yw",
    )[0] == 202452
    assert one(
        spark,
        "SELECT toYearWeek(toDateTime('2025-01-05 02:00:00'), 0, 'UTC') AS yw",
    )[0] == 202501
    # mode 1 is implemented since round 14 (full mode table 0-9);
    # non-literal tz / mode stay guided errors, not silently wrong
    assert one(
        spark, "SELECT toYearWeek(toDate('2024-01-03'), 1) AS yw"
    )[0] == 202401
    import pytest as _pytest
    for bad in ("SELECT toYearWeek(d, 0, tz_col) FROM t",
                "SELECT toYearWeek(d, m) FROM t"):
        with _pytest.raises(ValueError, match="toYearWeek"):
            translate(bad)
    # fragment retained in pathFull
    assert one(spark, "SELECT pathFull('https://e.com/a?x=1#f') AS p")[0] == "/a?x=1#f"
    # malformed/out-of-range IPs -> 0, not an ANSI cast error
    row = one(spark, "SELECT IPv4StringToNum('abc') AS a, IPv4StringToNum('1.2.3.999') AS b, IPv4StringToNum('1.2.3.4') AS c")
    assert row[0] == 0 and row[1] == 0 and row[2] == 16909060
    # scalar WITH macros substitute into retained CTE bodies
    assert one(
        spark,
        "WITH 2 AS lim, small AS (SELECT o_orderkey FROM orders LIMIT lim) "
        "SELECT count(*) FROM small",
    )[0] == 2
    # parenthesized scalar item is a macro, not a CTE
    assert one(spark, "WITH (1 + 2) AS three SELECT three AS t")[0] == 3
    # LIMIT offset,n inside a subquery
    rows = run_select_query(
        spark,
        "SELECT * FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 2, 3) s",
        dialect="clickhouse",
    )["rows"]
    assert [r[0] for r in rows] == [2, 3, 4]
    # outer column named l must not be captured by the sort comparator
    row = one(
        spark,
        "SELECT arraySort(x -> x + l, [3, 1, 2]) AS srt FROM (SELECT 10 AS l)",
    )
    assert row[0] == [1, 2, 3]


def test_qualify_rewrites_execute(spark):
    """Top-level QUALIFY (CH 24.4+) rewrites instead of raising (round 6):
    alias conditions filter one level out; inline-OVER conditions get a
    spliced helper column dropped via * EXCEPT."""
    # alias form
    res = run_select_query(
        spark,
        "SELECT o_orderstatus, o_orderkey,"
        " row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn"
        " FROM orders QUALIFY rn <= 2 ORDER BY o_orderstatus, rn",
        dialect="clickhouse",
    )
    from collections import Counter

    per = Counter(r[0] for r in res["rows"])
    assert all(v == 2 for v in per.values()) and len(per) >= 2
    # inline-window form, ORDER BY/LIMIT moving outside the wrap
    res2 = run_select_query(
        spark,
        "SELECT o_orderstatus, o_orderkey FROM orders"
        " QUALIFY row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) = 1"
        " ORDER BY o_orderstatus LIMIT 2",
        dialect="clickhouse",
    )
    assert len(res2["rows"]) == 2
    assert [c for c in res2["columns"]] == ["o_orderstatus", "o_orderkey"]
    # grouped query + QUALIFY over the aggregate
    res3 = run_select_query(
        spark,
        "SELECT o_orderstatus, count() AS n FROM orders GROUP BY o_orderstatus"
        " QUALIFY row_number() OVER (ORDER BY n DESC) = 1",
        dialect="clickhouse",
    )
    assert len(res3["rows"]) == 1
    # DISTINCT + inline window: guided error
    with pytest.raises(ValueError, match="DISTINCT"):
        translate(
            "SELECT DISTINCT o_orderstatus FROM orders"
            " QUALIFY row_number() OVER (ORDER BY o_orderstatus) = 1"
        )
    # subquery-level QUALIFY recurses into the derived table (round-7,
    # verdict #4) instead of the old guided error
    out = translate(
        "SELECT * FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn"
        " FROM t QUALIFY rn = 1)"
    )
    assert not re.search(r"(?i)\bQUALIFY\b", out) and "WHERE rn = 1" in out


def test_sql_asof_join_using_form(spark, sf_dir):
    """The canonical CH spelling: ASOF LEFT JOIN ... USING (keys..., ts) —
    last USING column is the >= inequality; right's key/ts columns merge
    away (bare names keep resolving to the left side)."""
    from mcp_clickhouse_spark.session import read_table

    read_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    spark.sql(
        "SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup'"
    ).createOrReplaceTempView("asof_l")
    spark.sql(
        "SELECT user_id, ts, value FROM events WHERE event_type = 'signup'"
    ).createOrReplaceTempView("asof_r")
    got = run_select_query(
        spark,
        "SELECT event_id, user_id, ts, value FROM asof_l"
        " ASOF LEFT JOIN asof_r USING (user_id, ts)",
        dialect="clickhouse",
    )
    # equivalent ON form over the same views
    want = run_select_query(
        spark,
        "SELECT l.event_id, l.user_id, l.ts, r.value FROM asof_l l"
        " ASOF LEFT JOIN asof_r r ON l.user_id = r.user_id AND l.ts >= r.ts",
        dialect="clickhouse",
    )
    assert sorted(map(tuple, got["rows"])) == sorted(map(tuple, want["rows"]))
    assert len(got["rows"]) > 0


def test_round6_breadth_fillins(spark):
    row = one(
        spark,
        """
        SELECT lowerUTF8('AbC') AS lo, upperUTF8('aBc') AS up,
               positionUTF8('hello', 'll') AS pos,
               toStartOfTenMinutes(toDateTime('2024-03-07 10:37:22')) AS t10,
               toDecimal128('1.25', 2) AS d128,
               e() AS eul,
               toLowCardinality('x') AS lc, materialize(7) AS mz, identity(8) AS idf,
               ignore(1, 'a') AS ig,
               basename('/a/b/c.txt') AS bn,
               cutWww('www.example.com') AS cw,
               countMatchesCaseInsensitive('aAbAa', 'a') AS cmi,
               notLike('abc', 'a%') AS nl,
               notILike('ABC', 'a%') AS nil,
               multiMatchAny('spark', ['^sp', 'zz$']) AS mma,
               mapAdd(map('a', 1, 'b', 2), map('b', 10, 'c', 3)) AS madd,
               roundDown(7, [1, 5, 10]) AS rd,
               roundDown(0, [1, 5, 10]) AS rd_low,
               roundAge(30) AS ra,
               roundDuration(250) AS rdur,
               formatReadableQuantity(1234567) AS frq
        """,
    )
    d = dict(zip(
        ["lo", "up", "pos", "t10", "d128", "eul", "lc", "mz", "idf", "ig",
         "bn", "cw", "cmi", "nl", "nil", "mma", "madd", "rd", "rd_low",
         "ra", "rdur", "frq"], row))
    assert d["lo"] == "abc" and d["up"] == "ABC" and d["pos"] == 3
    assert str(d["t10"]).startswith("2024-03-07 10:30")
    assert float(d["d128"]) == 1.25
    assert abs(d["eul"] - 2.718281828459045) < 1e-12
    assert d["lc"] == "x" and d["mz"] == 7 and d["idf"] == 8 and d["ig"] == 0
    assert d["bn"] == "c.txt" and d["cw"] == "example.com"
    assert d["cmi"] == 4
    assert d["nl"] is False and d["nil"] is False
    assert d["mma"] is True
    assert d["madd"] == {"a": 1, "b": 12, "c": 3}
    assert d["rd"] == 5 and d["rd_low"] == 1
    assert d["ra"] == 25 and d["rdur"] == 240
    assert d["frq"] == "1.23 million"

    # block-relative and dictionary functions: guided errors
    for q, frag in (
        ("SELECT runningDifference(x) FROM t", "lag"),
        ("SELECT neighbor(x, -1) FROM t", "lag"),
        ("SELECT rowNumberInAllBlocks() FROM t", "row_number"),
        ("SELECT dictGet('d', 'attr', k) FROM t", "JOIN"),
        ("SELECT dictHas('d', k) FROM t", "SEMI"),
    ):
        with pytest.raises(ValueError, match=frag):
            translate(q)


def test_double_quoted_identifiers_are_identifiers(spark):
    """CH double quotes delimit IDENTIFIERS; Spark would read them as
    string literals, silently returning constants (round 6 fix)."""
    out = translate('SELECT "n_name" FROM nation WHERE "n_nationkey" = 3')
    assert out == "SELECT `n_name` FROM nation WHERE `n_nationkey` = 3"
    row = one(spark, 'SELECT "n_name" AS nm FROM nation WHERE "n_nationkey" = 3')
    assert row[0] != "n_name" and isinstance(row[0], str)
    # doubled "" escapes a literal quote inside the identifier
    assert translate('SELECT "odd""name" FROM t') == 'SELECT `odd"name` FROM t'
    # double quotes INSIDE single-quoted strings stay literal
    assert translate("SELECT 'he said \"hi\"' AS s") == "SELECT 'he said \"hi\"' AS s"


def test_chained_and_nested_join_rewrites(spark):
    """Round-6 hardening: ASOF inside a subquery; ASOF followed by ANY in
    one query (the ON-condition scan must stop at every ANY-join spelling
    — a missed boundary once swallowed 'ANY' into the condition)."""
    sub = run_select_query(
        spark,
        "SELECT cnt FROM ("
        " SELECT count(*) AS cnt FROM"
        " (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup') e"
        " ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s"
        " ON e.user_id = s.user_id AND e.ts >= s.ts)",
        dialect="clickhouse",
    )
    assert sub["rows"][0][0] > 0
    chained = run_select_query(
        spark,
        "SELECT count(*) AS n FROM"
        " (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup') e"
        " ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s"
        " ON e.user_id = s.user_id AND e.ts >= s.ts"
        " ANY LEFT JOIN (SELECT user_id AS uid, min(value) AS mv"
        "                FROM events GROUP BY user_id) m"
        " ON e.user_id = m.uid",
        dialect="clickhouse",
    )
    # LEFT ASOF keeps every left row; ANY adds at most one match per row
    left_only = run_select_query(
        spark,
        "SELECT count(*) AS n FROM events WHERE event_type <> 'signup'",
    )
    assert chained["rows"][0][0] == left_only["rows"][0][0]
    # two ANY joins in sequence
    two = run_select_query(
        spark,
        "SELECT count(*) AS n FROM nation a"
        " ANY LEFT JOIN region r1 ON a.n_regionkey = r1.r_regionkey"
        " ANY LEFT JOIN (SELECT n_regionkey AS rk, min(n_nationkey) AS mn"
        "                FROM nation GROUP BY n_regionkey) b"
        " ON a.n_regionkey = b.rk",
        dialect="clickhouse",
    )
    assert two["rows"][0][0] == 25


def test_parenthesized_join_conjuncts(spark):
    """Round-6 self-review: matching outer parens peel correctly —
    a naive strip('()') turned `(a) = (b)` into `a) = (b`."""
    res = run_select_query(
        spark,
        "SELECT count(*) AS n FROM customer c ANY LEFT JOIN"
        " (SELECT o_custkey, o_orderkey FROM orders) o"
        " ON ((c.c_custkey) = (o.o_custkey))",
        dialect="clickhouse",
    )
    want = run_select_query(spark, "SELECT count(*) AS n FROM customer")
    assert res["rows"] == want["rows"]
    res2 = run_select_query(
        spark,
        "SELECT count(*) AS n FROM"
        " (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup') e"
        " ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s"
        " ON (e.user_id = s.user_id) AND (e.ts >= s.ts)",
        dialect="clickhouse",
    )
    assert res2["rows"][0][0] > 0


def test_extract_groups(spark):
    row = one(
        spark,
        "SELECT extractGroups('2024-03-07', '(\\\\d+)-(\\\\d+)-(\\\\d+)') AS g,"
        " extractGroups('no digits here!', '(\\\\d+)-(\\\\d+)') AS miss,"
        " extractGroups('a[1]b', '(\\\\w)\\\\[(\\\\d)\\\\]') AS cls",
    )
    assert row[0] == ["2024", "03", "07"]
    assert row[1] == []
    assert row[2] == ["a", "1"]
    with pytest.raises(ValueError, match="literal"):
        translate("SELECT extractGroups(x, y) FROM t")
    with pytest.raises(ValueError, match="capture"):
        translate("SELECT extractGroups(x, 'abc') FROM t")


def test_extract_groups_named_groups(spark):
    """Round-7 (r6 advisor #1): named groups — Java '(?<y>…)' and RE2
    '(?P<y>…)' — are CAPTURING; the RE2 'P' is stripped so the emitted
    pattern is valid Java regex."""
    row = one(
        spark,
        "SELECT extractGroups('2024-abc', '(?<y>[0-9]+)-([a-z]+)') AS j,"
        " extractGroups('2024-abc', '(?P<y>[0-9]+)-([a-z]+)') AS r2,"
        " extractGroups('xq-ab', '(?:x)(?=q)(q)-([a-z]+)') AS nc",
    )
    assert row[0] == ["2024", "abc"]
    assert row[1] == ["2024", "abc"]
    assert row[2] == ["q", "ab"]


def test_todecimal_scale_guided_error():
    """Round-7 (r6 advisor #4): a non-literal scale raises a guided error,
    not a raw int() ValueError."""
    for fn in ("toDecimal32", "toDecimal64", "toDecimal128"):
        with pytest.raises(ValueError, match="integer literal"):
            translate(f"SELECT {fn}(x, s) FROM t")
    assert "DECIMAL(38,4)" in translate("SELECT toDecimal128(x, 4) FROM t")


def test_backtick_identifier_with_paren(spark):
    """Round-7 (r6 advisor #5): a double-quoted identifier containing '('
    survives translation — the scanners skip backtick-quoted spans."""
    out = translate('SELECT "a(b" FROM t WHERE "a(b" > 1 LIMIT 3 BY "a(b"')
    assert "`a(b`" in out
    res = run_select_query(
        spark,
        'SELECT "o_orderkey" AS "weird(name" FROM orders'
        ' ORDER BY "weird(name" LIMIT 2',
        dialect="clickhouse",
    )
    assert len(res["rows"]) == 2


def test_asof_star_hides_helpers(spark, sf_dir):
    """Round-7 (r6 verdict #2): SELECT * over a SQL-text ASOF JOIN carries
    no __asof_* helper columns — exact CH star shape, both ON and USING."""
    from mcp_clickhouse_spark.session import read_table

    read_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    spark.sql(
        "SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup'"
    ).createOrReplaceTempView("star_l")
    spark.sql(
        "SELECT user_id, ts, value FROM events WHERE event_type = 'signup'"
    ).createOrReplaceTempView("star_r")
    on_form = spark.sql(translate(
        "SELECT * FROM star_l ASOF LEFT JOIN star_r"
        " ON star_l.user_id = star_r.user_id AND star_l.ts >= star_r.ts"
    ))
    assert [f.name for f in on_form.schema.fields] == [
        "event_id", "user_id", "ts", "user_id", "ts", "value"
    ]
    using_form = spark.sql(translate(
        "SELECT * FROM star_l ASOF JOIN star_r USING (user_id, ts)"
    ))
    assert [f.name for f in using_form.schema.fields] == [
        "event_id", "user_id", "ts", "value"
    ]
    # r.* form too
    rstar = spark.sql(translate(
        "SELECT star_l.event_id, star_r.* FROM star_l ASOF LEFT JOIN star_r"
        " ON star_l.user_id = star_r.user_id AND star_l.ts >= star_r.ts"
    ))
    assert [f.name for f in rstar.schema.fields] == [
        "event_id", "user_id", "ts", "value"
    ]


def test_with_fill_interpolate_generated_rows_only(spark):
    """Round-7 (r6 advisor #3 + verdict #5): interpolation touches ONLY
    axis-generated rows; `col AS expr` compounds per generated row."""
    spark.createDataFrame(
        [(1, 100.0), (4, 200.0), (6, None)], "x int, v double"
    ).createOrReplaceTempView("fill_src")
    rows = spark.sql(translate(
        "SELECT x, v FROM fill_src ORDER BY x"
        " WITH FILL FROM 1 TO 8 STEP 1 INTERPOLATE (v AS v + 10)"
    )).collect()
    got = {r["x"]: r["v"] for r in rows}
    # gaps compound +10 from the last REAL value; the real NULL at x=6
    # stays NULL (CH computes inserted rows only), and x=7 carries the
    # previous real row's value — NULL
    assert got == {1: 100.0, 2: 110.0, 3: 120.0, 4: 200.0, 5: 210.0,
                   6: None, 7: None}
    # bare column: previous real value, not prev-filled over real NULLs
    rows2 = spark.sql(translate(
        "SELECT x, v FROM fill_src ORDER BY x"
        " WITH FILL FROM 1 TO 8 STEP 1 INTERPOLATE (v)"
    )).collect()
    got2 = {r["x"]: r["v"] for r in rows2}
    assert got2 == {1: 100.0, 2: 100.0, 3: 100.0, 4: 200.0, 5: 200.0,
                    6: None, 7: None}


def test_with_fill_interpolate_cross_column(spark):
    """Round 8: INTERPOLATE expressions may reference OTHER columns.
    A non-interpolated reference carries the last REAL row's value
    (constant across a gap); references between interpolated columns see
    the previous step's values — all expressions update simultaneously
    from the previous row, the CH convention."""
    spark.createDataFrame(
        [(1, 100.0, 7.0), (5, 200.0, 3.0)], "x int, v double, d double"
    ).createOrReplaceTempView("fill_cc")
    rows = spark.sql(translate(
        "SELECT x, v, d FROM fill_cc ORDER BY x"
        " WITH FILL FROM 1 TO 7 STEP 1 INTERPOLATE (v AS v + d)"
    )).collect()
    got = {r["x"]: r["v"] for r in rows}
    # gap after x=1 compounds +7 per generated row (d carried at 7.0);
    # gap after x=5 compounds +3
    assert got == {1: 100.0, 2: 107.0, 3: 114.0, 4: 121.0,
                   5: 200.0, 6: 203.0}

    # simultaneous update between two interpolated columns: a takes the
    # PREVIOUS b, b doubles — classic swap semantics would differ if
    # evaluation were sequential
    spark.createDataFrame(
        [(1, 1.0, 10.0), (4, 50.0, 60.0)], "x int, a double, b double"
    ).createOrReplaceTempView("fill_cc2")
    rows2 = spark.sql(translate(
        "SELECT x, a, b FROM fill_cc2 ORDER BY x"
        " WITH FILL FROM 1 TO 5 STEP 1 INTERPOLATE (a AS b, b AS a + b)"
    )).collect()
    got2 = {r["x"]: (r["a"], r["b"]) for r in rows2}
    # step from (1, 10): a'=10, b'=11; step from (10, 11): a'=11, b'=21
    assert got2 == {1: (1.0, 10.0), 2: (10.0, 11.0), 3: (11.0, 21.0),
                    4: (50.0, 60.0)}


def test_with_fill_operator_generated_rows_only(spark):
    """The DataFrame operator mirrors the generated-rows-only contract."""
    from mcp_clickhouse_spark.operators.with_fill import with_fill

    df = spark.createDataFrame(
        [(1, 100.0), (4, 200.0), (6, None)], "x int, v double"
    )
    out = {r["x"]: r["v"] for r in
           with_fill(df, "x", 1, 7, 1, interpolate={"v": "prev"}).collect()}
    assert out[6] is None          # real NULL survives
    assert out[2] == 100.0 and out[5] == 200.0
    assert out[7] is None          # prev REAL value is the NULL row
    lin = {r["x"]: r["v"] for r in
           with_fill(df, "x", 1, 7, 1, interpolate={"v": "linear"}).collect()}
    assert lin[6] is None          # real NULL still survives linear mode
    assert lin[2] == pytest.approx(100.0 + (200.0 - 100.0) / 3)  # lerp


def test_murmurhash3_64_faithful(spark):
    """Round-7 (r6 verdict #8): murmurHash3_64 translates to the faithful
    MurmurHash3_x64_128 h1^h2 port instead of the guided error.  The port
    is cross-checked against Guava's independent murmur3_128 (in Spark's
    JVM) on every length class; the CH combiner (XOR of the 64-bit
    halves, seed 0) follows ClickHouse FunctionsHashing.h
    MurmurHash3Impl64."""
    from mcp_clickhouse_spark.functions.murmur import (
        ch_murmurhash3_64,
        murmur3_x64_128,
    )

    guava = spark._jvm.com.google.common.hash.Hashing.murmur3_128()
    cases = ["", "a", "foo", "12345678", "123456789", "0123456789abcdef",
             "0123456789abcdef0", "The quick brown fox jumps over the lazy dog",
             "naïve café 日本語"]
    for s in cases:
        data = s.encode("utf-8")
        b = bytes(guava.hashBytes(bytearray(data)).asBytes())
        g1 = int.from_bytes(b[0:8], "little")
        g2 = int.from_bytes(b[8:16], "little")
        h1, h2 = murmur3_x64_128(data)
        assert (h1, h2) == (g1, g2), s
        assert int(ch_murmurhash3_64(s)) == g1 ^ g2
    # end-to-end through the dialect + lazy UDF registration
    res = run_select_query(
        spark, "SELECT murmurHash3_64('foo') AS h", dialect="clickhouse"
    )
    exp = int(ch_murmurhash3_64("foo"))
    assert int(res["rows"][0][0]) == exp and exp > 0  # unsigned DECIMAL(20,0)
    # NULL propagates; multi-arg keeps a guided error
    res2 = run_select_query(
        spark,
        "SELECT murmurHash3_64(CAST(NULL AS STRING)) AS h",
        dialect="clickhouse",
    )
    assert res2["rows"][0][0] is None
    with pytest.raises(ValueError, match="1-argument"):
        translate("SELECT murmurHash3_64(a, b) FROM t")


def test_join_then_qualify_chain(spark, sf_dir):
    """Round-7 (r6 advisor #2): QUALIFY after an ANY/ASOF join's ON
    condition — the boundary scanner must stop the condition scan at
    QUALIFY instead of swallowing it (the old failure modes were a
    misleading 'QUALIFY inside a subquery' error for ANY and a 'cannot
    parse conjunct' for ASOF)."""
    from mcp_clickhouse_spark.session import read_table

    read_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    res = run_select_query(
        spark,
        "SELECT c.c_custkey, o.o_orderkey,"
        " row_number() OVER (ORDER BY c.c_custkey, o.o_orderkey) AS rn"
        " FROM customer c ANY LEFT JOIN orders o ON c.c_custkey = o.o_custkey"
        " QUALIFY rn <= 5",
        dialect="clickhouse",
    )
    assert len(res["rows"]) == 5
    read_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    res2 = run_select_query(
        spark,
        "SELECT e.event_id,"
        " row_number() OVER (ORDER BY e.event_id) AS rn"
        " FROM events e ASOF LEFT JOIN events s"
        " ON e.user_id = s.user_id AND e.ts >= s.ts"
        " QUALIFY rn <= 3",
        dialect="clickhouse",
    )
    assert len(res2["rows"]) == 3


def test_array_join_multi_column(spark):
    """Round-7: multi-column ARRAY JOIN zips positionally via
    inline(arrays_zip(...)); single-column keeps the explode form; the
    bare no-AS form raises a guided error."""
    spark.createDataFrame(
        [(1, [10, 20, 30], ["x", "y", "z"])],
        "id int, xs array<int>, ys array<string>",
    ).createOrReplaceTempView("aj_t")
    res = run_select_query(
        spark,
        "SELECT id, a, b FROM aj_t ARRAY JOIN xs AS a, ys AS b WHERE a > 10",
        dialect="clickhouse",
    )
    assert sorted(map(tuple, res["rows"])) == [(1, 20, "y"), (1, 30, "z")]
    res2 = run_select_query(
        spark,
        "SELECT id, a, i FROM aj_t ARRAY JOIN xs AS a, arrayEnumerate(xs) AS i"
        " ORDER BY i",
        dialect="clickhouse",
    )
    assert [tuple(r) for r in res2["rows"]] == [(1, 10, 1), (1, 20, 2), (1, 30, 3)]
    # bare no-AS forms rename the source arrays behind a FROM wrapper so
    # the element owns the name (round 8 — was a guided error)
    res3 = run_select_query(
        spark,
        "SELECT id, xs, ys FROM aj_t ARRAY JOIN xs, ys WHERE xs > 10",
        dialect="clickhouse",
    )
    assert sorted(map(tuple, res3["rows"])) == [(1, 20, "y"), (1, 30, "z")]
    # SELECT * hides the rename helpers; the element column moves to the
    # end of the star expansion (documented position delta)
    res4 = run_select_query(
        spark, "SELECT * FROM aj_t ARRAY JOIN xs", dialect="clickhouse"
    )
    assert res4["columns"] == ["id", "ys", "xs"]
    assert sorted(r[2] for r in res4["rows"]) == [10, 20, 30]
    # a bare EXPRESSION still needs an alias (its in-scope name would be
    # the expression text)
    with pytest.raises(ValueError, match="alias"):
        translate("SELECT x FROM t ARRAY JOIN arrayEnumerate(xs) WHERE 1")


def test_json_extract_raw(spark):
    """Round-7: JSONExtractRaw via the Spark 4 VARIANT round-trip —
    quotes preserved on strings (get_json_object strips them), '' on
    missing/invalid, CH 1-based indices."""
    doc = '{"a": {"b": 1}, "s": "hi", "arr": [7, 8]}'
    row = one(
        spark,
        f"SELECT JSONExtractRaw('{doc}', 'a') AS obj,"
        f" JSONExtractRaw('{doc}', 's') AS s,"
        f" JSONExtractRaw('{doc}', 'missing') AS m,"
        f" JSONExtractRaw('{doc}', 'arr', 2) AS second,"
        f" JSONExtractRaw('not json', 's') AS bad",
    )
    assert row[0] == '{"b":1}'
    assert row[1] == '"hi"'
    assert row[2] == ""
    assert row[3] == "8"
    assert row[4] == ""
    with pytest.raises(ValueError, match="1-based"):
        translate("SELECT JSONExtractRaw(j, 'arr', -1) FROM t")
    with pytest.raises(ValueError, match="literal"):
        translate("SELECT JSONExtractRaw(j, k) FROM t")


def test_subquery_clause_recursion(spark, sf_dir):
    """Round-7: LIMIT n BY and PREWHERE/SAMPLE/FINAL recurse into derived
    tables (previously top-level only), sharing the QUALIFY recursion
    machinery."""
    register_testdata(spark, sf_dir, ["orders"])
    res = run_select_query(
        spark,
        "SELECT s, count() AS c FROM ("
        "  SELECT o_orderstatus AS s, o_orderkey AS k FROM orders"
        "  ORDER BY k LIMIT 2 BY s"
        ") d GROUP BY s ORDER BY s",
        dialect="clickhouse",
    )
    assert all(r[1] <= 2 for r in res["rows"]) and len(res["rows"]) >= 2
    res2 = run_select_query(
        spark,
        "SELECT count() AS n FROM ("
        "  SELECT o_orderkey FROM orders PREWHERE o_orderkey > 100"
        "  WHERE o_orderkey < 200"
        ") d",
        dialect="clickhouse",
    )
    assert res2["rows"][0][0] > 0
    out = translate("SELECT c FROM (SELECT count() AS c FROM t FINAL) d")
    assert "FINAL" not in out.upper()
    # SAMPLE n recurses for any row count, not only a one-digit one
    for n in (1, 10, 100):
        assert translate(f"SELECT * FROM (SELECT * FROM t SAMPLE {n}) s") == (
            f"SELECT * FROM (SELECT * FROM t TABLESAMPLE ({n} ROWS)) s"
        )


def test_star_replace_modifier(spark):
    """Round-7: CH `* REPLACE(expr AS col)` → `* EXCEPT (col), expr AS col`
    (replaced columns move to the end — documented position delta);
    composes with EXCEPT; `* APPLY` keeps a guided error; the string
    function replace() and arithmetic `2 * replace(...)` are untouched."""
    spark.createDataFrame(
        [(1, 2, "ab")], "x int, a int, s string"
    ).createOrReplaceTempView("sr_t")
    res = run_select_query(
        spark, "SELECT * REPLACE(x * 10 AS x) FROM sr_t", dialect="clickhouse"
    )
    assert res["columns"] == ["a", "s", "x"] and res["rows"][0] == [2, "ab", 10]
    res2 = run_select_query(
        spark,
        "SELECT * EXCEPT (a) REPLACE(concat(s, '!') AS s) FROM sr_t",
        dialect="clickhouse",
    )
    assert res2["columns"] == ["x", "s"] and res2["rows"][0] == [1, "ab!"]
    assert translate("SELECT 2 * replace(s, 'a', 'b') AS r FROM t") == (
        "SELECT 2 * replace(s, 'a', 'b') AS r FROM t"
    )
    with pytest.raises(ValueError, match="APPLY"):
        translate("SELECT * APPLY(sum) FROM t")
    with pytest.raises(ValueError, match="expr AS column"):
        translate("SELECT * REPLACE(x) FROM t")


def test_aggregate_long_tail(spark, sf_dir):
    """Round-7: long-tail CH aggregates — anyHeavy→mode, boundingRatio,
    simpleLinearRegression, *Stable variants, timing/deterministic
    quantiles; deltaSum (block-order-dependent in CH itself) keeps a
    guided error; maxIntersections/entropy translate as of round 8."""
    register_testdata(spark, sf_dir, ["orders"])
    row = one(
        spark,
        "SELECT anyHeavy(o_orderstatus) AS m,"
        " boundingRatio(o_orderkey, o_totalprice) AS br,"
        " simpleLinearRegression(o_orderkey, o_totalprice) AS lr,"
        " corrStable(o_orderkey, o_totalprice) AS c,"
        " stddevPopStable(o_totalprice) AS sd,"
        " quantileTiming(0.9)(o_totalprice) AS qt,"
        " quantileDeterministic(0.5)(o_totalprice, o_orderkey) AS qd"
        " FROM orders",
    )
    assert row[0] in ("F", "O", "P")
    assert isinstance(row[1], float) and isinstance(row[4], float)
    assert set(row[2].asDict()) == {"k", "b"}
    # faithful math: k = covar_pop/var_pop on the same data
    import math
    assert math.isfinite(row[2]["k"]) and math.isfinite(row[2]["b"])
    # deltaSum stays guided (block-order-dependent in CH itself);
    # maxIntersections/entropy translate as of round 8 — exact values in
    # test_max_intersections_sql / test_entropy_sql
    with pytest.raises(ValueError, match="lag"):
        translate("SELECT deltaSum(o_orderkey) FROM orders")
    for ok in ("maxIntersections(o_orderkey, o_custkey)",
               "entropy(o_orderstatus)"):
        assert "aggregate(" in translate(f"SELECT {ok} FROM orders")


def test_misc_breadth_round7(spark):
    """Round-7 misc: CH rand() is a UInt32 (not a canonical double),
    rand64 gives 64 random bits, randNormal/randUniform parameterize,
    toNullable is a no-op, bit rotates work in 64-bit width, toIPv4
    aliases IPv4StringToNum, emptyArray* constructors are typed."""
    r = spark.sql(translate(
        "SELECT rand() AS a, randCanonical() AS rc, bitRotateLeft(1, 3) AS e,"
        " bitRotateRight(8, 3) AS e2, toIPv4('1.2.3.4') AS f,"
        " toNullable(5) AS d, emptyArrayInt64() AS arr"
    )).first()
    assert 0 <= r.a < 4294967296 and isinstance(r.a, int)
    assert 0.0 <= r.rc < 1.0
    assert r.e == 8 and r.e2 == 1 and r.f == 16909060 and r.d == 5
    assert r.arr == []


def test_limit_offset_by_and_date_fill(spark, sf_dir):
    """Round-7: the `LIMIT off, n BY` offset form (previously mangled
    into `LIMIT n OFFSET off BY` by the plain limit-offset rewrite) and
    WITH FILL with a date axis + INTERVAL step."""
    register_testdata(spark, sf_dir, ["customer"])
    res = run_select_query(
        spark,
        "SELECT c_nationkey, c_custkey FROM customer"
        " ORDER BY c_custkey LIMIT 2, 3 BY c_nationkey",
        dialect="clickhouse",
    )
    from collections import Counter
    per = Counter(r[0] for r in res["rows"])
    assert per and all(v <= 3 for v in per.values())
    # offset honored: the 2 smallest custkeys per nation are absent
    full = run_select_query(
        spark,
        "SELECT c_nationkey, c_custkey FROM customer"
        " ORDER BY c_custkey LIMIT 5 BY c_nationkey",
        dialect="clickhouse",
    )
    by_nation = {}
    for nk, ck in full["rows"]:
        by_nation.setdefault(nk, []).append(ck)
    got = {}
    for nk, ck in res["rows"]:
        got.setdefault(nk, []).append(ck)
    for nk, cks in got.items():
        assert sorted(cks) == sorted(by_nation[nk])[2:5]
    # date axis WITH FILL
    import datetime as dt
    spark.createDataFrame(
        [(dt.date(2024, 1, 4), 10)], "d date, n int"
    ).createOrReplaceTempView("dfill")
    res2 = run_select_query(
        spark,
        "SELECT d, n FROM dfill ORDER BY d WITH FILL"
        " FROM toDate('2024-01-03') TO toDate('2024-01-07') STEP INTERVAL 1 DAY",
        dialect="clickhouse",
    )
    assert [str(r[0]) for r in res2["rows"]] == [
        "2024-01-03", "2024-01-04", "2024-01-05", "2024-01-06"
    ]


def test_parametric_form_of_nonparametric_names(spark):
    """Round-7: `uniqCombined(p)(x)` maps precision to relative-SD; other
    non-parametric mapped names in the double-paren form raise a guided
    error instead of emitting unparseable `newname(p)(x)`."""
    out = translate("SELECT uniqCombined(12)(x) FROM t")
    assert "approx_count_distinct(x, 0.01625" in out
    with pytest.raises(ValueError, match="parametric form"):
        translate("SELECT sumIf(1)(x, y) FROM t")


def test_json_url_family_round7(spark):
    """Round-7 JSON/URL breadth: visitParam*/simpleJSON* aliases,
    JSONExtractArrayRaw + JSONType via the VARIANT round-trip,
    extractURLParameters/cutFragment/netloc; public-suffix functions
    keep guided errors."""
    doc = '{"a": [1, "x", {"b": 2}], "s": "hi", "n": 1.5, "i": 7, "t": true}'
    row = one(
        spark,
        f"SELECT JSONExtractArrayRaw('{doc}', 'a') AS arr,"
        f" JSONType('{doc}', 'a') AS ta, JSONType('{doc}', 'n') AS tn,"
        f" JSONType('{doc}', 'missing') AS tm,"
        f" visitParamExtractRaw('{doc}', 's') AS raw_s,"
        f" simpleJSONExtractInt('{doc}', 'i') AS si,"
        f" visitParamHas('{doc}', 'zz') AS hz,"
        f" extractURLParameters('http://h/p?a=1&b=2') AS ps,"
        f" netloc('https://u:p@host:8080/path?q') AS nl",
    )
    assert row[0] == ['1', '"x"', '{"b":2}']
    assert (row[1], row[2], row[3]) == ("Array", "Double", "")
    assert row[4] == '"hi"' and row[5] == 7 and row[6] is False
    assert row[7] == ["a=1", "b=2"] and row[8] == "u:p@host:8080"
    # round 8: firstSignificantSubdomain translates (documented
    # com/net/org/co rule) — exact values in
    # test_first_significant_subdomain_sql
    assert "try_parse_url" in translate(
        "SELECT firstSignificantSubdomain(u) FROM t"
    )


def test_explain_variants_and_ornull(spark, sf_dir):
    """Round-7: CH EXPLAIN kinds map to Spark modes (SYNTAX returns the
    translated SQL itself — what CH's EXPLAIN SYNTAX shows); the
    -OrNull/-OrDefault combinators map (Spark aggregates are already
    NULL-on-empty); -ForEach translates as of round 8."""
    register_testdata(spark, sf_dir, ["nation"])
    syn = run_select_query(
        spark,
        "EXPLAIN SYNTAX SELECT toYear(toDate('2024-01-02')) AS y FROM nation",
        dialect="clickhouse",
    )
    assert syn["columns"] == ["query"]
    assert "year(to_date('2024-01-02'))" in syn["rows"][0][0]
    pipe = run_select_query(
        spark, "EXPLAIN PIPELINE SELECT count() FROM nation", dialect="clickhouse"
    )
    assert "Physical Plan" in pipe["rows"][0][0]
    est = run_select_query(
        spark, "EXPLAIN ESTIMATE SELECT count() FROM nation", dialect="clickhouse"
    )
    assert "Optimized Logical Plan" in est["rows"][0][0]
    row = one(
        spark,
        "SELECT sumOrNull(n_nationkey) AS s, maxOrNull(n_nationkey) AS m,"
        " countOrDefault(n_nationkey) AS c"
        " FROM nation WHERE n_nationkey < -1",
    )
    assert row[0] is None and row[1] is None and row[2] == 0
    # min/maxOrDefault need the TYPE default — guided (review fix)
    with pytest.raises(ValueError, match="TYPE's default"):
        translate("SELECT maxOrDefault(x) FROM t")
    # round 8: -ForEach translates now — exact values in
    # test_foreach_combinators_sql
    assert "zip_with" in translate("SELECT sumForEach(xs) FROM t")
    # EXPLAIN of a write statement is still rejected
    from mcp_clickhouse_spark.readonly import ReadOnlyViolation, check_read_only
    with pytest.raises(ReadOnlyViolation):
        check_read_only("EXPLAIN SYNTAX DROP TABLE x")


def test_retention_sql_text(spark, sf_dir):
    """Round-7: retention(c1, …) maps to one faithful expression
    (r1 = any row met c1; rI = r1 AND any row met cI); the double-call
    parametric spelling stays an error."""
    register_testdata(spark, sf_dir, ["events"])
    res = run_select_query(
        spark,
        "SELECT user_id, retention(event_type = 'signup',"
        " event_type = 'click') AS r FROM events GROUP BY user_id LIMIT 5",
        dialect="clickhouse",
    )
    for _uid, r in res["rows"]:
        assert set(r) <= {0, 1} and len(r) == 2
        assert not (r[0] == 0 and r[1] == 1)  # rI implies r1
    with pytest.raises(ValueError, match="no parameter list"):
        translate("SELECT retention(1)(a, b) FROM t")


def test_date_array_tuple_breadth_round7(spark):
    """Round-7: parseDateTime (%-codes shared with formatDateTime, now
    incl. %i/%s/%p), BestEffort casts, MJD pair, toDaysSinceYearZero
    (MySQL TO_DAYS convention — anchor TO_DAYS('2007-10-07')=733321 from
    the MySQL docs = ordinal+365), array rotate/shift/partial-sort, and
    CH tuples as _1.._n structs."""
    r = spark.sql(translate(
        "SELECT parseDateTime('2024-03-07 01:02:03', '%Y-%m-%d %H:%i:%s') AS p,"
        " parseDateTimeBestEffort('2024-03-07') AS pb,"
        " parseDateTimeBestEffortOrNull('garbage') AS pn,"
        " toMillisecond(CAST('2024-01-01 10:00:05.123' AS TIMESTAMP)) AS ms,"
        " timeDiff(CAST('2024-01-01' AS TIMESTAMP),"
        "          CAST('2024-01-01 00:01:00' AS TIMESTAMP)) AS td,"
        " toModifiedJulianDay('2020-01-01') AS mjd,"
        " fromModifiedJulianDay(58849) AS fmjd,"
        " toDaysSinceYearZero('2007-10-07') AS dz,"
        " arrayPartialSort(2, [3,1,2]) AS ps,"
        " arrayRotateLeft([1,2,3,4], 1) AS rl,"
        " arrayRotateRight([1,2,3,4], 1) AS rr,"
        " arrayShiftLeft([1,2,3], 1, 0) AS sl,"
        " arrayShuffle([7]) AS sh,"
        " tupleElement(tuple('a', 7), 2) AS te"
    )).first()
    assert str(r.p) == "2024-03-07 01:02:03" and r.pn is None
    assert r.ms == 123 and r.td == 60
    assert r.mjd == 58849 and str(r.fmjd) == "2020-01-01"
    assert r.dz == 733321  # the MySQL TO_DAYS documented example
    assert r.ps == [1, 2, 3] and r.rl == [2, 3, 4, 1] and r.rr == [4, 1, 2, 3]
    assert r.sl == [2, 3, 0] and r.sh == [7] and r.te == 7
    with pytest.raises(ValueError, match="pad value"):
        translate("SELECT arrayShiftLeft(a, 1) FROM t")
    with pytest.raises(ValueError, match="select t._1"):
        translate("SELECT untuple(t) FROM x")


def test_round7_review_fixes(spark):
    """Round-7 self-review fixes: identifiers colliding with clause
    keywords survive expression positions; countOrNull distinguishes
    zero rows from all-NULL; array edge cases; JSON index-0 guard;
    parseDateTime timezone guard."""
    # FINAL/keyword collisions: only TABLE position drops
    assert "sum(final)" in translate("SELECT sum(final) FROM t")
    assert "AS final" in translate(
        "SELECT m FROM (SELECT 1 AS final FROM u) t"
    )
    assert "FINAL" not in translate("SELECT * FROM t FINAL").upper()
    # countOrNull: NULL on zero rows, 0 on rows-with-all-NULL
    spark.createDataFrame([(None,)], "x int").createOrReplaceTempView("cn_t")
    r = one(spark, "SELECT countOrNull(x) AS a FROM cn_t")
    assert r[0] == 0
    r2 = one(spark, "SELECT countOrNull(x) AS a FROM cn_t WHERE 1 = 0")
    assert r2[0] is None
    with pytest.raises(ValueError, match="TYPE's default"):
        translate("SELECT minOrDefault(x) FROM t")
    # array shift/rotate edges: over-size shift pads fully; empty stays []
    r3 = spark.sql(translate(
        "SELECT arrayShiftLeft([1,2], 5, 0) AS sl,"
        " arrayRotateLeft(emptyArrayInt64(), 2) AS rl"
    )).first()
    assert r3.sl == [0, 0] and r3.rl == []
    with pytest.raises(ValueError, match="1-based"):
        translate("SELECT JSONType(j, 0) FROM t")
    # literal timezone translates as of round 8; non-literal stays guided
    assert str(one(
        spark,
        "SELECT parseDateTime('2024-03-07 01:02:03', '%Y-%m-%d %H:%i:%s',"
        " 'America/New_York') AS p",
    )[0]) == "2024-03-07 06:02:03"
    with pytest.raises(ValueError, match="timezone"):
        translate("SELECT parseDateTime(s, '%Y', tz_col) FROM t")


def test_weighted_quantile_ignores_nulls(spark):
    """Round-7 review fix: NULL-valued rows' weights must not inflate the
    cumulative/total sums (CH aggregates ignore NULLs)."""
    from mcp_clickhouse_spark.operators.weighted_quantile import weighted_quantile

    df = spark.createDataFrame(
        [("a", None, 10), ("a", 1.0, 1), ("a", 2.0, 5)],
        "g string, v double, w int",
    )
    out = weighted_quantile(df, "v", "w", 0.5, by=["g"]).collect()
    # median of {1 (w1), 2 (w5)}: threshold 3 of 6 -> first hit at v=2
    assert out[0].wq == 2.0


def test_round8_advisor_fixes(spark):
    """Round-8 advisor fixes: JSONExtractArrayRaw on an empty array
    returns [] (sequence(0, -1) used to build an invalid variant path);
    boundingRatio/simpleLinearRegression on constant x must not die with
    ANSI DIVIDE_BY_ZERO — since round 17 (wave H) they return CH's
    Float64 values: ±inf for a nonzero rise over the zero run, nan for
    the 0/0 slope; table references and explicit AS-aliases that spell
    clause keywords survive."""
    r = one(spark, """SELECT JSONExtractArrayRaw('{"a": []}', 'a') AS e,"""
            """ JSONExtractArrayRaw('{"a": [1]}', 'a') AS s""")
    assert r[0] == [] and r[1] == ["1"]
    # constant x: zero run — ±inf (max_by/min_by tie order picks the
    # rise's sign) or nan on an exact tie; never NULL, never an error
    spark.createDataFrame([(1, 5.0), (1, 7.0)], "x int, y double") \
        .createOrReplaceTempView("br_t")
    r2 = one(spark, "SELECT boundingRatio(x, y) AS br,"
             " simpleLinearRegression(x, y) AS lr FROM br_t")
    assert math.isinf(r2[0]) or math.isnan(r2[0])
    assert math.isnan(r2[1]["k"]) and math.isnan(r2[1]["b"])
    # keyword-spelling identifiers in table/alias positions
    assert translate("SELECT m FROM u AS final").rstrip() == (
        "SELECT m FROM u AS final"
    )
    out = translate("SELECT a FROM qualify")
    assert re.search(r"(?i)\bFROM\s+qualify\b", out)
    out2 = translate("SELECT a FROM u JOIN final ON u.x = final.x")
    assert re.search(r"(?i)\bJOIN\s+final\b", out2)


def test_weighted_quantile_all_null_group_kept(spark):
    """Round-8 advisor fix: a group whose values are ALL NULL keeps its
    row with a NULL quantile (CH keeps the group, returns nan)."""
    from mcp_clickhouse_spark.operators.weighted_quantile import weighted_quantile

    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("b", None, 5), ("b", None, 1)],
        "g string, v double, w int",
    )
    out = {r.g: r.wq for r in weighted_quantile(df, "v", "w", 0.5, by=["g"]).collect()}
    assert out == {"a": 1.0, "b": None}


def test_round8_star_apply(spark):
    """Round 8 (verdict missing #2): `* [EXCEPT(…)] APPLY(fn)` expands to
    concrete fn(col) AS col items via the active session's catalog;
    lambdas / unresolvable FROM units keep guided errors."""
    spark.createDataFrame(
        [(1, 2.0, 3.0), (1, 4.0, 5.0)], "k int, a double, b double"
    ).createOrReplaceTempView("sa_t")
    res = run_select_query(
        spark, "SELECT * APPLY(sum) FROM sa_t", dialect="clickhouse"
    )
    assert res["columns"] == ["k", "a", "b"]
    assert [tuple(r) for r in res["rows"]] == [(2, 6.0, 8.0)]
    res2 = run_select_query(
        spark,
        "SELECT k, t.* EXCEPT (k) APPLY(max) FROM sa_t AS t GROUP BY k",
        dialect="clickhouse",
    )
    assert res2["columns"] == ["k", "a", "b"]
    assert [tuple(r) for r in res2["rows"]] == [(1, 4.0, 5.0)]
    # the applied name goes through the dialect maps afterwards
    assert "percentile(`a`, 0.5)" in translate("SELECT * EXCEPT (k, b) APPLY(median) FROM sa_t")
    for bad, msg in [
        ("SELECT * APPLY(x -> x + 1) FROM sa_t", "bare function name"),
        ("SELECT * APPLY(sum) FROM (SELECT 1 AS z) q", "concrete column list"),
        ("SELECT * APPLY(sum) FROM sa_t a JOIN sa_t b ON a.k = b.k",
         "concrete column list"),
    ]:
        with pytest.raises(ValueError, match=msg):
            translate(bad)


def test_round8_asof_directions(spark):
    """Round 8 (verdict missing #3): ASOF nearest-FOLLOWING (`l.ts <=
    r.ts` / `<`) flips the union+window sort DESC; all four directions
    give exact matches."""
    spark.createDataFrame(
        [(1, i) for i in (1, 2, 3, 4, 5)], "k int, ts int"
    ).createOrReplaceTempView("asof_l")
    spark.createDataFrame(
        [(1, 2, "a"), (1, 4, "b")], "k int, ts int, v string"
    ).createOrReplaceTempView("asof_r")
    expect = {
        ">=": [(1, None), (2, "a"), (3, "a"), (4, "b"), (5, "b")],
        ">": [(1, None), (2, None), (3, "a"), (4, "a"), (5, "b")],
        "<=": [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, None)],
        "<": [(1, "a"), (2, "b"), (3, "b"), (4, None), (5, None)],
    }
    for op, want in expect.items():
        res = run_select_query(
            spark,
            "SELECT l.ts AS lts, r.v AS v FROM asof_l l ASOF LEFT JOIN"
            f" asof_r r ON l.k = r.k AND l.ts {op} r.ts ORDER BY lts",
            dialect="clickhouse",
        )
        assert [tuple(r) for r in res["rows"]] == want, op


def test_round8_right_any_join(spark):
    """Round 8 (verdict missing #5): RIGHT ANY JOIN dedups the LEFT FROM
    unit deterministically and keeps every right row."""
    spark.createDataFrame(
        [(1, "x1"), (1, "x2"), (2, "y")], "k int, lv string"
    ).createOrReplaceTempView("rany_l")
    spark.createDataFrame(
        [(1, "r1"), (3, "r3")], "k int, rv string"
    ).createOrReplaceTempView("rany_r")
    for q in [
        "SELECT rany_r.k AS k, lv, rv FROM rany_l RIGHT ANY JOIN rany_r"
        " ON rany_l.k = rany_r.k",
        "SELECT rany_r.k AS k, lv, rv FROM rany_l ANY RIGHT JOIN rany_r"
        " ON rany_l.k = rany_r.k",
        "SELECT k, lv, rv FROM rany_l RIGHT ANY JOIN rany_r USING (k)",
    ]:
        res = run_select_query(spark, q, dialect="clickhouse")
        assert sorted(map(tuple, res["rows"]), key=str) == [
            (1, "x1", "r1"), (3, None, "r3")
        ], q
    with pytest.raises(ValueError, match="single left FROM unit"):
        translate(
            "SELECT 1 FROM a JOIN b ON a.k = b.k RIGHT ANY JOIN c ON b.k = c.k"
        )


def test_map_aggregates_sql(spark):
    # round 8: sumMap/minMap/maxMap translate to one expression returning
    # the CH tuple-of-arrays shape (_1 sorted keys, _2 per-key values)
    row = one(
        spark,
        "SELECT sumMap(k, v) AS sm, minMap(k, v) AS mn, maxMap(k, v) AS mx"
        " FROM (SELECT array('b', 'a') AS k, array(1, 10) AS v"
        " UNION ALL SELECT array('a', 'c'), array(5, 7)"
        " UNION ALL SELECT array('a'), array(CAST(NULL AS INT)))",
    )
    sm, mn, mx = list(row[0]), list(row[1]), list(row[2])
    assert sm == [["a", "b", "c"], [15, 1, 7]]
    assert mn[1] == [5, 1, 7]  # NULL-valued 'a' entry skipped
    assert mx[1] == [10, 1, 7]


def test_entropy_sql(spark):
    # two equiprobable values -> exactly 1 bit; one value -> +0.0 (not -0.0)
    row = one(
        spark,
        "SELECT entropy(x) AS e2, entropy(y) AS e1 FROM (SELECT 1 AS x, 7 AS y"
        " UNION ALL SELECT 2, 7 UNION ALL SELECT 1, 7 UNION ALL SELECT 2, 7)",
    )
    assert row[0] == 1.0
    assert repr(row[1]) == "0.0"


def test_max_intersections_sql(spark):
    # intervals [1,5],[2,6],[5,7]: an end sorts before a start at the same
    # point (half-open), so the sweep peaks at 2 — first reached at p=2
    row = one(
        spark,
        "SELECT maxIntersections(s, e) AS mi,"
        " maxIntersectionsPosition(s, e) AS mip"
        " FROM (SELECT 1 AS s, 5 AS e UNION ALL SELECT 2, 6"
        " UNION ALL SELECT 5, 7"
        " UNION ALL SELECT CAST(NULL AS INT), 9)",
    )
    assert (row[0], row[1]) == (2, 2)


def test_foreach_combinators_sql(spark):
    # round 8: -ForEach folds element-wise across the rows' arrays;
    # result length = longest input, missing slots skipped like NULL rows
    row = one(
        spark,
        "SELECT sumForEach(a) AS s, minForEach(a) AS mn, maxForEach(a) AS mx,"
        " countForEach(a) AS c, avgForEach(a) AS av"
        " FROM (SELECT array(1, 2) AS a UNION ALL SELECT array(3, 4, 5))",
    )
    assert row[0] == [4, 6, 5]
    assert row[1] == [1, 2, 5]
    assert row[2] == [3, 4, 5]
    assert row[3] == [2, 2, 1]
    assert row[4] == [2.0, 3.0, 5.0]


def test_array_auc_sql(spark):
    # the ClickHouse docs example: arrayAUC([0.1,0.4,0.35,0.8],[0,0,1,1])
    # = 0.75; a tied pair contributes 0.5; no negatives -> NULL (CH: nan)
    row = one(
        spark,
        "SELECT arrayAUC(array(0.1, 0.4, 0.35, 0.8), array(0, 0, 1, 1)) AS auc,"
        " arrayAUC(array(1.0, 1.0), array(0, 1)) AS tied,"
        " arrayAUC(array(1.0, 2.0), array(1, 1)) AS allpos",
    )
    assert row[0] == 0.75
    assert row[1] == 0.5
    assert row[2] is None


def test_first_significant_subdomain_sql(spark):
    # the documented rule: second-level domain unless it is
    # com/net/org/co, then third level (CH URL-functions doc example)
    row = one(
        spark,
        "SELECT firstSignificantSubdomain('https://news.clickhouse.com.tr/') AS a,"
        " firstSignificantSubdomain('https://example.com/x') AS b,"
        " firstSignificantSubdomain('https://a.b.co.uk/x') AS c,"
        " cutToFirstSignificantSubdomain('https://news.clickhouse.com.tr/') AS d,"
        " cutToFirstSignificantSubdomain('https://example.com/x') AS e,"
        " firstSignificantSubdomain('not a url') AS f",
    )
    assert row[0] == "clickhouse"
    assert row[1] == "example"
    assert row[2] == "b"
    assert row[3] == "clickhouse.com.tr"
    assert row[4] == "example.com"
    assert row[5] == ""


def test_crosstab_association_sql(spark):
    # perfectly-associated 2x2 table (a==b): chi2 = n, so
    # cramersV = 1, contingency = sqrt(n/(n+n)) = sqrt(0.5), theilsU = 1;
    # independent table -> chi2 = 0 -> V = 0, U = 0
    row = one(
        spark,
        "SELECT cramersV(a, b) AS v, contingency(a, b) AS ct,"
        " theilsU(a, b) AS u, cramersVBiasCorrected(a, b) AS vc"
        " FROM (SELECT 1 AS a, 1 AS b UNION ALL SELECT 1, 1"
        " UNION ALL SELECT 2, 2 UNION ALL SELECT 2, 2)",
    )
    assert abs(row[0] - 1.0) < 1e-12
    assert abs(row[1] - 0.5 ** 0.5) < 1e-12
    assert abs(row[2] - 1.0) < 1e-12
    # Bergsma correction shrinks a perfect 2x2 with n=4:
    # phi2c = 1 - 1/3 = 2/3, rc = cc = 2 - 1/3 -> V = sqrt((2/3)/(2/3)) = 1
    assert abs(row[3] - 1.0) < 1e-12
    row = one(
        spark,
        "SELECT cramersV(a, b) AS v, theilsU(a, b) AS u"
        " FROM (SELECT 1 AS a, 1 AS b UNION ALL SELECT 1, 2"
        " UNION ALL SELECT 2, 1 UNION ALL SELECT 2, 2)",
    )
    assert row[0] == 0.0 and row[1] == 0.0


def test_uniq_up_to_caps(spark):
    # CH uniqUpTo(N): exact while <= N, N+1 once exceeded
    row = one(
        spark,
        "SELECT uniqUpTo(2)(x) AS capped, uniqUpTo(10)(x) AS exact"
        " FROM (SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3"
        " UNION ALL SELECT 4)",
    )
    assert (row[0], row[1]) == (3, 4)


def test_rank_corr_sql(spark):
    # Spearman with AVERAGE ranks for ties: x=[1,1,2] ranks [1.5,1.5,3],
    # y=[1,2,3] -> rho = 1.5/sqrt(1.5*2) = sqrt(3)/2
    row = one(
        spark,
        "SELECT rankCorr(x, x) AS perfect, rankCorr(x, 0 - x) AS inverse,"
        " rankCorr(t, y) AS tied"
        " FROM (SELECT 1 AS x, 1 AS t, 1 AS y UNION ALL SELECT 2, 1, 2"
        " UNION ALL SELECT 3, 2, 3)",
    )
    assert abs(row[0] - 1.0) < 1e-12
    assert abs(row[1] + 1.0) < 1e-12
    assert abs(row[2] - 3 ** 0.5 / 2) < 1e-12
    import pytest as _pytest

    # round 8: studentTTest translates (p-value rides on ch_t_sf)
    assert "ch_t_sf" in translate("SELECT studentTTest(v, g) FROM t")
    with _pytest.raises(ValueError, match="insertion-order"):
        translate("SELECT groupArrayMovingSum(x) FROM t")


def test_round8_audit_batch(spark):
    # names that previously fell through to Spark's parser unresolved
    row = one(
        spark,
        "SELECT sumKahan(x) AS sk, medianExact(x) AS me, groupBitmap(x) AS gb,"
        " quantileGK(100, 0.5)(x) AS gk"
        " FROM (SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3)",
    )
    assert row[0] == 6 and row[1] == 2.0 and row[2] == 3 and row[3] == 2
    row = one(
        spark,
        "SELECT tryBase64Decode('aGk=') AS ok, tryBase64Decode('!!') AS bad,"
        " toFixedString('ab', 4) AS fs,"
        " arrayEnumerateUniq(array(10, 20, 10, 10)) AS eu,"
        " JSONExtractKeysAndValues('{\"a\": 1, \"b\": 2}', 'Int64') AS kv,"
        " formatRowNoNewline('TSV', 1, 'x') AS tsv",
    )
    assert row[0] == "hi" and row[1] == ""
    assert row[2] == "ab\x00\x00"
    assert row[3] == [1, 1, 2, 3]
    assert [list(e) for e in row[4]] == [["a", 1], ["b", 2]]
    assert row[5] == "1\tx"
    import pytest as _pytest

    # round 9: normalizeUTF8* and reinterpretAs* graduated from this
    # guided list to real translations (tests/test_reinterpret_normalize)
    assert "ch_normalize_utf8" in translate("normalizeUTF8NFC(s)")
    assert "typeof(s)" in translate("reinterpretAsUInt32(s)")
    # round 10: lgamma/tgamma graduated too (ch_lgamma/ch_tgamma UDFs)
    assert "ch_lgamma" in translate("lgamma(x)")
    for bad, msg in [
        ("seriesPeriodDetectFFT(x)", "FFT"),
        ("reinterpretAsFloat32(s)", "bit-cast"),
        ("arrayFirstIndex(x -> x, a, b)", "one parameter per array"),
        ("largestTriangleThreeBuckets(x, y)", "bucket-count"),
    ]:
        with _pytest.raises(ValueError, match=msg):
            translate(f"SELECT {bad} FROM t")


def test_url_hierarchy_sql(spark):
    # the CH docs example, plus separator runs, query strings, and no-path
    row = one(
        spark,
        "SELECT URLHierarchy('https://example.com/browse/CONF/') AS h,"
        " URLHierarchy('https://example.com/a//b?x=1') AS runs,"
        " URLHierarchy('https://example.com') AS nopath,"
        " pathHierarchy('https://example.com/browse/CONF/') AS p",
    )
    assert row[0] == [
        "https://example.com/",
        "https://example.com/browse/",
        "https://example.com/browse/CONF/",
    ]
    # '//' is one separator run (cut lands after it); '?' cuts too; the
    # full URL closes the list when it does not end on a separator
    assert row[1] == [
        "https://example.com/",
        "https://example.com/a//",
        "https://example.com/a//b?",
        "https://example.com/a//b?x=1",
    ]
    assert row[2] == []
    assert row[3] == ["/browse/", "/browse/CONF/"]


def test_multi_array_lambda_forms(spark):
    # round 8: arrayMap((x,y) -> ..., a, b) previously translated to
    # transform(a, (x,y) -> ...) — binding y to Spark's INDEX argument and
    # silently dropping b. Now: zip_with.
    row = one(
        spark,
        "SELECT arrayMap((x, y) -> x + y, array(1, 2), array(10, 20)) AS m,"
        " arrayFilter((x, y) -> y > 0, array('a','b','c'), array(0,1,1)) AS f,"
        " arrayExists((x, y) -> x > y, array(1, 5), array(2, 3)) AS e,"
        " arrayAll((x, y) -> x > y, array(1, 5), array(2, 3)) AS al,"
        " arrayCount((x, y) -> x = y, array(1, 2, 3), array(1, 0, 3)) AS c",
    )
    assert row[0] == [11, 22]
    assert row[1] == ["b", "c"]
    assert row[2] is True and row[3] is False
    assert row[4] == 2


def test_functional_form_array_aggregates(spark):
    # CH's lambda-first functional form: arraySum(f, arr) = sum of f(x)
    row = one(
        spark,
        "SELECT arraySum(x -> x * 2, array(1, 2, 3)) AS s,"
        " arraySum((x, y) -> x * y, array(1, 2, 3), array(4, 5, 6)) AS dot,"
        " arrayMin(x -> 0 - x, array(1, 2, 3)) AS mn,"
        " arrayMax(x -> x % 3, array(4, 5, 6)) AS mx,"
        " arrayAvg(x -> x * 10, array(1, 2)) AS av,"
        " arrayCumSum(x -> x + 1, array(1, 2, 3)) AS cs,"
        " arrayProduct(x -> x + 1, array(1, 2)) AS pr",
    )
    assert row[0] == 12
    assert row[1] == 32  # 1*4 + 2*5 + 3*6
    assert row[2] == -3 and row[3] == 2
    assert row[4] == 15.0
    assert row[5] == [2, 5, 9]
    assert row[6] == 6.0


def test_array_fill_split_sql(spark):
    # the CH docs examples, verbatim
    # NOTE the numeric-truthiness lambdas ((x, y) -> y, x -> x): CH's own
    # docs use them; every boolean context casts the lambda result
    row = one(
        spark,
        "SELECT arrayFill(x -> NOT (x IS NULL),"
        " array(1, NULL, 3, 11, 12, NULL, NULL, 5, 6, 14, NULL, NULL)) AS f,"
        " arrayReverseFill(x -> NOT (x IS NULL),"
        " array(NULL, 2, NULL, 4)) AS rf,"
        " arraySplit((x, y) -> y, array(1, 2, 3, 4, 5),"
        " array(1, 0, 0, 1, 0)) AS sp,"
        " arrayReverseSplit((x, y) -> y, array(1, 2, 3, 4, 5),"
        " array(1, 0, 0, 1, 0)) AS rsp,"
        " arrayFill(x -> x, array(0, 1, 0, 2, 0)) AS nf,"
        " arrayFilter((x, y) -> y, array(7, 8), array(1, 0)) AS ff",
    )
    assert row[0] == [1, 1, 3, 11, 12, 12, 12, 5, 6, 14, 14, 14]
    assert row[1] == [2, 2, 4, 4]
    assert row[2] == [[1, 2, 3], [4, 5]]
    assert row[3] == [[1], [2, 3, 4], [5]]
    assert row[4] == [0, 1, 1, 2, 2]
    assert row[5] == [7]


def test_round8_review_fixes(spark):
    # chained * APPLY composes (scalar then aggregate — the CH-valid chain)
    spark.createDataFrame([(1, -2), (3, 4)], "k int, a int") \
        .createOrReplaceTempView("r8_t")
    row = one(spark, "SELECT * APPLY(abs) APPLY(sum) FROM r8_t")
    assert row == [4, 6]
    # RIGHT ANY JOIN / bare ARRAY JOIN accept a subquery left unit (the
    # last-FROM scan previously landed on the subquery's inner FROM)
    spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string") \
        .createOrReplaceTempView("r8_lt")
    spark.createDataFrame([(1, 10), (3, 30)], "k int, r int") \
        .createOrReplaceTempView("r8_rt")
    res = run_select_query(
        spark,
        "SELECT r.k AS k, r.r AS r FROM (SELECT k FROM r8_lt) l"
        " RIGHT ANY JOIN r8_rt r ON l.k = r.k ORDER BY k",
        dialect="clickhouse",
    )
    assert res["rows"] == [[1, 10], [3, 30]]
    spark.createDataFrame([(1, [1, 2]), (2, [3])], "doc_id int, xs array<int>") \
        .createOrReplaceTempView("r8_arr")
    res = run_select_query(
        spark,
        "SELECT xs FROM (SELECT xs FROM r8_arr) q ARRAY JOIN xs ORDER BY xs",
        dialect="clickhouse",
    )
    assert [r[0] for r in res["rows"]] == [1, 2, 3]
    # arrayFill: empty arrays return [], and a NULL-valued true neighbor
    # FILLS with NULL (no longer conflated with 'no neighbor')
    row = one(
        spark,
        "SELECT arrayFill(x -> x > 0, CAST(array() AS ARRAY<INT>)) AS e,"
        " arrayFill(x -> x IS NULL, array(CAST(NULL AS INT), 5)) AS ns",
    )
    assert row[0] == [] and row[1] == [None, None]


def test_array_index_positional(spark):
    # positional scan: the duplicate-value case proves value-lookup would
    # be wrong (first array [5,5], predicate true only at position 2)
    row = one(
        spark,
        "SELECT arrayFirstIndex(x -> x > 1, array(1, 2, 3)) AS fi,"
        " arrayLastIndex(x -> x > 1, array(1, 2, 3)) AS li,"
        " arrayFirstIndex(x -> x > 9, array(1, 2)) AS miss,"
        " arrayFirstIndex((x, y) -> y > 0, array(5, 5), array(0, 1)) AS dup,"
        " arrayLastIndex((x, y) -> x = y, array(1, 2, 2), array(1, 2, 9)) AS l2,"
        " arrayFirstIndex(x -> x, CAST(array() AS ARRAY<INT>)) AS empty",
    )
    assert list(row) == [2, 3, 0, 2, 2, 0]


def test_limit_with_ties_and_stepless_fill(spark):
    spark.createDataFrame(
        [(1, "p"), (2, "q"), (2, "r"), (3, "s")], "a int, b string"
    ).createOrReplaceTempView("ties_t")
    # LIMIT 2 WITH TIES keeps BOTH a=2 rows (3 rows total)
    res = run_select_query(
        spark,
        "SELECT a, b FROM ties_t ORDER BY a LIMIT 2 WITH TIES",
        dialect="clickhouse",
    )
    assert sorted(res["rows"]) == [[1, "p"], [2, "q"], [2, "r"]]
    # STEP defaults to 1 (the CH contract) — fills 1..4
    res = run_select_query(
        spark,
        "SELECT a, any(b) AS b FROM ties_t GROUP BY a"
        " ORDER BY a WITH FILL FROM 1 TO 5",
        dialect="clickhouse",
    )
    assert [r[0] for r in sorted(res["rows"])] == [1, 2, 3, 4]


def test_tuple_index_datetime64_mapapply(spark):
    # CH tuple access t.1 / tuple(...).2 -> the _1.._n struct fields;
    # float literals untouched
    row = one(
        spark,
        "SELECT t.1 AS a, t.2 AS b, tuple(7, 8).2 AS c, 1.5 AS f"
        " FROM (SELECT tuple(1, 'x') AS t)",
    )
    assert row[0] == 1 and row[1] == "x" and row[2] == 8
    assert float(row[3]) == 1.5
    # toDateTime64's precision previously landed in to_timestamp's FORMAT
    # slot (runtime parse failure); literal timezones map like
    # parseDateTime*
    row = one(
        spark,
        "SELECT toDateTime64('2024-01-01 00:00:00', 3) AS ts,"
        " toDateTime('2024-06-01 12:00:00', 'America/New_York') AS tz",
    )
    assert str(row[0]).startswith("2024-01-01 00:00")
    assert str(row[1]).startswith("2024-06-01 16:00")  # EDT wall -> UTC
    # round 9 (r8 advisor): for EPOCH-INTEGER and DateTime inputs the CH
    # timezone argument is display-only — the INSTANT must not shift
    # (round 8 wrapped every input in to_utc_timestamp).  Literal epoch,
    # epoch column, string column, and timestamp column all checked.
    row = one(
        spark,
        "SELECT toDateTime(1704067200, 'America/New_York') AS lit_epoch,"
        " toDateTime(n, 'America/New_York') AS col_epoch,"
        " toDateTime(s, 'America/New_York') AS col_str,"
        " toDateTime(t, 'America/New_York') AS col_ts"
        " FROM (SELECT 1704067200 AS n, '2024-01-01 00:00:00' AS s,"
        " TIMESTAMP '2024-01-01 00:00:00' AS t)",
    )
    assert str(row[0]).startswith("2024-01-01 00:00")  # instant kept
    assert str(row[1]).startswith("2024-01-01 00:00")  # instant kept
    assert str(row[2]).startswith("2024-01-01 05:00")  # wall-clock shifts
    assert str(row[3]).startswith("2024-01-01 00:00")  # instant kept
    # mapApply rebuilds entries through the user's tuple-returning lambda
    row = one(
        spark,
        "SELECT mapApply((k, v) -> (upper(k), v * 2),"
        " map('a', 1, 'b', 2)) AS m",
    )
    assert dict(row[0]) == {"A": 2, "B": 4}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="client-side export"):
        translate("SELECT a FROM t INTO OUTFILE 'x'")
    # round 10: pointInPolygon translates (ray-cast column expressions);
    # the H3 index family still needs the h3 library → guided
    assert "filter(sequence" in translate("SELECT pointInPolygon((1,1), ps) FROM t")
    with _pytest.raises(ValueError, match="H3"):
        translate("SELECT geoToH3(37.79, 55.71, 15) FROM t")


def test_ternary_and_cast_forms(spark):
    # CH's C-style ternary binds LOWEST: a AND b ? x : y = if(a AND b,..)
    res = run_select_query(
        spark,
        "SELECT 1 > 0 ? 10 : 20 AS a,"
        " 1 < 2 AND 3 > 4 ? 'yes' : 'no' AS b,"
        " (2 > 1 ? 1 : 2 > 0 ? 2 : 3) AS nested,"
        " concat(1 > 2 ? 'a' : 'b', 'c') AS inarg,"
        " '?' AS lit",
        dialect="clickhouse",
    )
    assert res["rows"] == [[10, "no", 1, "bc", "?"]]
    # comma-form CAST and accurateCast[OrNull]
    res = run_select_query(
        spark,
        "SELECT CAST('12', 'UInt32') AS c,"
        " accurateCast(7, 'Int64') AS ac,"
        " accurateCastOrNull('x', 'UInt32') AS bad,"
        " quantilesExact(0.25, 0.5)(x) AS qs"
        " FROM (SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3)",
        dialect="clickhouse",
    )
    assert res["rows"][0][:3] == [12, 7, None]
    assert res["rows"][0][3] == [1.5, 2.0]


def test_bitmap_family_and_string_jaccard(spark):
    # roaring-bitmap family -> distinct-array set algebra
    row = one(
        spark,
        "SELECT bitmapCardinality(bitmapBuild(array(1, 2, 2, 3))) AS c,"
        " bitmapToArray(bitmapAnd(bitmapBuild(array(1, 2, 3)),"
        " bitmapBuild(array(2, 3, 4)))) AS ba,"
        " bitmapToArray(bitmapXor(bitmapBuild(array(1, 2)),"
        " bitmapBuild(array(2, 3)))) AS bx,"
        " bitmapContains(bitmapBuild(array(5, 7)), 7) AS h7,"
        " bitmapHasAll(bitmapBuild(array(1, 2, 3)),"
        " bitmapBuild(array(2, 3))) AS hall,"
        " stringJaccardIndex('abc', 'bcd') AS jac,"
        " stringJaccardIndex('', 'a') AS jac0,"
        " translateUTF8('abc', 'ab', 'xy') AS tr",
    )
    assert list(row) == [3, [2, 3], [1, 3], True, True, 0.5, 0.0, "xyc"]


def test_vector_math_and_array_combinators(spark):
    row = one(
        spark,
        "SELECT arrayDotProduct(array(1, 2, 3), array(4, 5, 6)) AS dot,"
        " arrayL2Distance(array(0, 0), array(3, 4)) AS l2,"
        " arrayL1Distance(array(1, 1), array(2, 3)) AS l1,"
        " arrayLinfDistance(array(1, 1), array(2, 5)) AS linf,"
        " round(cosineDistance(array(1, 0), array(0, 1)), 9) AS ortho,"
        " round(cosineDistance(array(1, 1), array(2, 2)), 9) AS parallel,"
        " normalizeL2(array(3, 4)) AS norm,"
        " arrayL2Norm(array(3, 4)) AS n2",
    )
    assert list(row) == [32.0, 5.0, 3.0, 4.0, 1.0, 0.0, [0.6, 0.8], 5.0]
    row = one(
        spark,
        "SELECT groupConcat(s) AS g1, groupConcat(',')(s) AS g2,"
        " uniqArray(arr) AS ua,"
        " tupleElement(sumMapFiltered(array('a'))(k, v), 2) AS smf"
        " FROM (SELECT 'x' AS s, array(1, 2) AS arr, array('a', 'b') AS k,"
        " array(10, 20) AS v"
        " UNION ALL SELECT 'y', array(2, 3), array('a'), array(5))",
    )
    assert sorted(row[0]) == ["x", "y"] and sorted(row[1].split(",")) == ["x", "y"]
    assert row[2] == 3 and row[3] == [15]


def test_round8_fourth_wave_tail(spark):
    row = one(
        spark,
        "SELECT formatDateTimeInJodaSyntax("
        " toDateTime('2024-03-05 10:00:00'), 'yyyy-MM') AS joda,"
        " snowflakeToDateTime(1545442887390314496) AS snow,"
        " encodeXMLComponent('a<b&c') AS xml,"
        " toIPv4OrNull('1.2.3.4') AS ip_ok, toIPv4OrNull('junk') AS ip_bad,"
        " tupleElement(IPv4CIDRToRange("
        " IPv4StringToNum('192.168.5.2'), 16), 1) AS cidr_lo,"
        " MACNumToString(1108152157446) AS mac,"
        " MACStringToNum('01:02:03:04:05:06') AS mac_num,"
        " caseWithExpression(2, 1, 'one', 2, 'two', 'other') AS cwe",
    )
    assert row[0] == "2024-03"
    assert str(row[1]).startswith("2022-07-08")
    assert row[2] == "a&lt;b&amp;c"
    assert row[3] == 16909060 and row[4] is None
    assert row[5] == 3232235520  # 192.168.0.0
    assert row[6] == "01:02:03:04:05:06" and row[7] == 1108152157446
    assert row[8] == "two"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="introspection"):
        translate("SELECT hostName()")
    # round 9: the IPv6 family graduated from this guided list to real
    # ipaddress-module pandas_udfs (tests/test_gap_scan_r9b.py)
    assert "ch_ipv6_aton" in translate("SELECT IPv6StringToNum(s) FROM t")


def test_position_in_trunc_bar_misc(spark):
    row = one(
        spark,
        "SELECT position('needle' IN 'find the needle here') AS posin,"
        " position('hay-needle', 'needle') AS pos2,"
        " trunc(-2.78, 1) AS tneg, trunc(2.78) AS tpos,"
        " bar(30, 0, 100, 10) AS b,"
        " globalIn(2, (1, 2, 3)) AS gin,"
        " isZeroOrNull(CAST(NULL AS INT)) AS zn,"
        " bitHammingDistance(5, 6) AS bhd,"
        " countDigits(-1234) AS cd,"
        " defaultValueOfTypeName('UInt32') AS dv,"
        " defaultValueOfTypeName('String') AS dvs",
    )
    # the SQL-standard position(needle IN haystack) REVERSES arg order
    assert row[0] == 10 and row[1] == 5
    assert float(row[2]) == -2.7 and float(row[3]) == 2.0
    assert row[4] == "███" and row[5] is True and row[6] is True
    assert row[7] == 2 and row[8] == 4
    assert row[9] == 0 and row[10] == ""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sleep"):
        translate("SELECT sleep(1)")


def test_format_readable_time_delta(spark):
    # the ClickHouse docs examples, pinned verbatim
    row = one(
        spark,
        "SELECT formatReadableTimeDelta(100) AS a,"
        " formatReadableTimeDelta(12345) AS b,"
        " formatReadableTimeDelta(432546534) AS c,"
        " formatReadableTimeDelta(12345, 'minutes') AS d,"
        " formatReadableTimeDelta(432546534, 'minutes') AS e,"
        " formatReadableTimeDelta(0) AS z,"
        " formatReadableTimeDelta(-100) AS neg,"
        " formatReadableTimeDelta(1.5, 'years', 'milliseconds') AS ms,"
        " formatReadableTimeDelta(NULL) AS nul,"
        " formatReadableTimeDelta(59.9, 'minutes', 'minutes') AS flo",
    )
    # CH docs join with ", " and " and " before the LAST unit
    # (round 14 — round 8 pinned comma-only joins)
    assert row[0] == "1 minute and 40 seconds"
    assert row[1] == "3 hours, 25 minutes and 45 seconds"
    assert row[2] == (
        "13 years, 8 months, 17 days, 7 hours, 48 minutes and 54 seconds"
    )
    assert row[3] == "205 minutes and 45 seconds"
    assert row[4] == "7209108 minutes and 54 seconds"
    assert row[5] == "0 seconds"
    assert row[6] == "-1 minute and 40 seconds"
    assert row[7] == "1 second and 500 milliseconds"
    assert row[8] is None
    assert row[9] == "0 minutes"  # sub-minimum remainder floors away

    with pytest.raises(ValueError, match="smaller than minimum"):
        translate("SELECT formatReadableTimeDelta(x, 'seconds', 'hours') FROM t")
    with pytest.raises(ValueError, match="unknown unit"):
        translate("SELECT formatReadableTimeDelta(x, 'fortnights') FROM t")
    with pytest.raises(ValueError, match="string literals"):
        translate("SELECT formatReadableTimeDelta(x, u) FROM t")


def test_exponential_moving_average(spark):
    # the CH docs scenario: numbers(50), value = (n=0) OR (n>=25),
    # half-life 10 — cross-checked against the closed form
    # (1 − 2^(−1/x)) · Σ vᵢ·2^((tᵢ−tmax)/x); the docs pin the
    # single-point value 0.067 = round(1 − 2^(−1/10), 3)
    rows = [(1.0 if (n == 0 or n >= 25) else 0.0, float(n)) for n in range(50)]
    spark.createDataFrame(rows, "v double, t double").createOrReplaceTempView(
        "ema_t"
    )
    got = one(spark, "SELECT exponentialMovingAverage(10)(v, t) AS e FROM ema_t")[0]
    tmax = max(t for _, t in rows)
    ref = (1 - 2 ** (-1 / 10)) * sum(v * 2 ** ((t - tmax) / 10) for v, t in rows)
    assert abs(got - ref) < 1e-12

    spark.createDataFrame([(1.0, 0.0)], "v double, t double").createOrReplaceTempView(
        "ema_one"
    )
    assert one(
        spark, "SELECT round(exponentialMovingAverage(10)(v, t), 3) AS e FROM ema_one"
    )[0] == 0.067

    # grouped, NULL pairs excluded, all-NULL group → 0.0 (empty state),
    # huge timestamps don't overflow (every rescale factor ≤ 1)
    rows2 = [
        ("a", 5.0, 1e18),
        ("a", 3.0, 1e18 + 512.0),
        ("a", None, 7.0),
        ("b", None, None),
    ]
    spark.createDataFrame(
        rows2, "g string, v double, t double"
    ).createOrReplaceTempView("ema_g")
    out = {
        r[0]: r[1]
        for r in spark.sql(
            translate(
                "SELECT g, exponentialMovingAverage(5)(v, t) AS e"
                " FROM ema_g GROUP BY g"
            )
        ).collect()
    }
    refa = (1 - 2 ** (-1 / 5)) * (5.0 * 2 ** (-512.0 / 5) + 3.0)
    assert abs(out["a"] - refa) < 1e-12
    assert out["b"] == 0.0

    with pytest.raises(ValueError, match="half-life"):
        translate("SELECT exponentialMovingAverage(v, t) FROM e")
    with pytest.raises(ValueError, match="exactly"):
        translate("SELECT exponentialMovingAverage(5)(v) FROM e")


# --- single-pass contract --------------------------------------------------


@pytest.mark.parametrize("depth", [1, 10, 40])
def test_translate_runs_each_pass_once(monkeypatch, depth):
    """The rewrite passes run once per statement, whatever the nesting:
    the call mapping walks argument spans itself, not translate()."""
    from mcp_clickhouse_spark import dialect

    calls = {"_rewrite_division": 0, "_rewrite_in_operator": 0}
    for name in calls:
        def counted(sql, _fn=getattr(dialect, name), _name=name):
            calls[_name] += 1
            return _fn(sql)

        monkeypatch.setattr(dialect, name, counted)
    body = "toString(" * depth + "a / b + toInt64(x IN (1, 2))" + ")" * depth
    translate(f"SELECT {body} AS v FROM t")
    assert calls == {"_rewrite_division": 1, "_rewrite_in_operator": 1}


_SHAPES = {
    "subscript": ("a[i]", ", "),
    "ternary": ("x > 0 ? 1 : 0", ", "),
    "logical_call": ("and(x, y)", ", "),
    "tuple_access": ("(1, x).2", ", "),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_translate_time_is_linear(shape):
    """Each pass reads one scan and splices its edits once, so 8x the
    terms costs about 8x the time (a rescan per edit made it 29-41x)."""
    term, sep = _SHAPES[shape]
    sqls = {k: f"SELECT {sep.join([term] * k)} FROM t" for k in (50, 400)}
    best = {50: math.inf, 400: math.inf}
    gc.collect()
    gc.disable()  # a collection inside one timing would skew the ratio
    try:
        for _ in range(3):  # alternate, so both sizes see the same load
            for k, sql in sqls.items():
                t0 = time.perf_counter()
                translate(sql)
                best[k] = min(best[k], time.perf_counter() - t0)
    finally:
        gc.enable()
    assert best[400] <= 12 * best[50]


def test_postfix_casts_map_only_in_code():
    assert translate("SELECT 'x::UInt32' AS s") == "SELECT 'x::UInt32' AS s"
    assert translate('SELECT "col::Int8" FROM t') == "SELECT `col::Int8` FROM t"
    assert translate("SELECT y::UInt32 FROM t") == "SELECT y::BIGINT FROM t"


@pytest.mark.parametrize(
    "cond", [r"s = 'it\'s'", r"(s = 'it\'s')", "s = 'it''s'"]
)
def test_ternary_condition_ends_at_the_select(cond):
    """The condition's left boundary comes from the scan, so an escaped
    quote in it does not pull the SELECT keyword into the CASE."""
    out = translate(f"SELECT {cond} ? 1 : 0 AS b FROM t")
    assert out == f"SELECT CASE WHEN {cond} THEN 1 ELSE 0 END AS b FROM t"


def test_subscript_inside_parentheses():
    """The operand of a subscript ends at the paren that encloses it."""
    assert translate("SELECT f(a[1]), (b[2]) FROM t") == (
        "SELECT f(try_element_at(a, 1)), (try_element_at(b, 2)) FROM t"
    )


def test_mapped_arguments_are_rewritten_once():
    """A division or IN list inside a mapped call's arguments gets one
    guard, not one per nesting level."""
    div = translate("SELECT round(a / b, 2) FROM t")
    assert div.count("double('NaN')") == 1
    in_list = translate("SELECT toInt64(x IN (1, 2, NULL)) FROM t")
    assert in_list.count("IS NOT NULL") == 1


_LONG = "(" + " + ".join(["l"] * 80) + ")"  # past the lambda-binding threshold
_WEEKS = "SELECT toYearWeek(addDays(toDate(toYearWeek(d, 3)), 1), 1) AS w FROM t"
_DIVS = f"SELECT {' / '.join([_LONG] * 4)} AS q FROM t"


def test_translate_is_deterministic():
    for sql in (_WEEKS, _DIVS):
        first = translate(sql)
        assert re.search(r"__(b|wk)1\b", first)
        assert translate(sql) == first


def test_translate_is_deterministic_across_threads():
    """Lambda variables are numbered per call, so executor threads that
    translate at once each get the single-thread text."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    expected = {sql: translate(sql) for sql in (_WEEKS, _DIVS)}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(translate, sql) for sql in expected for _ in range(40)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert results == [expected[sql] for sql in expected for _ in range(40)]
