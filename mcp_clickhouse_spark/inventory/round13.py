"""Round-13 oracle-checked closures.

Five queries covering this round's dialect fixes end-to-end — four
oracle-checked against independent DuckDB reconstructions (the oracle
never runs the dialect — it rebuilds every expected value from DuckDB
primitives) plus the rows-only streaming embedding-LSH twin
(``streaming_embedding_pairs``; its values are replay-pinned to the
batch generator by tests/test_streaming.py).  ``scalar_round13b`` adds
the wave-2 semantics: greatest/least NULL propagation, toRelative*
ordinals, hasToken, calendar toStartOfInterval, toWeek mode 1, the
BestEffort epoch-string corner, and toDecimal64OrZero:

- ``scalar_format_datetime``: every formatDateTime specifier the round-13
  tokenizer maps, exercised through composite format strings with literal
  text, over per-row timestamps (reference contract: ClickHouse docs
  §formatDateTime, 24.x pinned — %M is the full month name);
- ``scalar_round13``: the intDiv subtract-remainder route on near-integer
  quotients, intDivOrZero's zero-divisor contract, toDayOfWeek modes 0-3,
  toDate/toDate32/toDateTimeOrZero zero values, Monday-rolling
  dateDiff('week') across a Sunday anchor, and toStartOfWeek modes 0/9;
- ``scalar_uint64``: UInt64 end-to-end past 2^63 — toUInt64 maps to
  DECIMAL(20,0), arithmetic and comparison stay exact beyond BIGINT, and
  results marshal as strings (the driver canonicalizer rejects DECIMAL
  and DuckDB HUGEINT outputs, so both sides serialize).
"""

from __future__ import annotations

from mcp_clickhouse_spark.inventory.registry import query, t

_SQL_FMT_CH = """
SELECT o_orderkey,
  formatDateTime(__ts, '%G-W%V-%u') AS iso_wd,
  formatDateTime(__ts, '%Y-%m-%d %H:%i:%S') AS ymdhis,
  formatDateTime(__ts, '%a %b %e %T %Y') AS ctime_s,
  formatDateTime(__ts, '%W, %d %M %Y') AS names,
  formatDateTime(__ts, '%C%y|%D|%F') AS century,
  formatDateTime(__ts, '%h:%i %p / %k / %l') AS h12,
  formatDateTime(__ts, 'Q%Q day %j w%w') AS qjw,
  formatDateTime(__ts, '100%% %t%n') AS esc,
  formatDateTime(__ts, '%r %R %g') AS rg,
  formatDateTime(__ts, '%s.%f') AS frac
FROM (SELECT o_orderkey,
             addSeconds(o_orderdate, o_orderkey % 86399) AS __ts
      FROM orders)
"""

_SQL_FMT_ORACLE = """
WITH b AS (
  SELECT o_orderkey,
         o_orderdate + (o_orderkey % 86399) * INTERVAL 1 SECOND AS ts
  FROM orders)
SELECT o_orderkey,
  CAST(isoyear(ts) AS VARCHAR) || '-W' ||
    lpad(CAST(weekofyear(ts) AS VARCHAR), 2, '0') || '-' ||
    CAST(isodow(ts) AS VARCHAR) AS iso_wd,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ymdhis,
  substr(dayname(ts), 1, 3) || ' ' || substr(monthname(ts), 1, 3) || ' ' ||
    lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' ||
    strftime(ts, '%H:%M:%S') || ' ' || strftime(ts, '%Y') AS ctime_s,
  dayname(ts) || ', ' || strftime(ts, '%d') || ' ' || monthname(ts) ||
    ' ' || strftime(ts, '%Y') AS names,
  lpad(CAST(year(ts) // 100 AS VARCHAR), 2, '0') || strftime(ts, '%y') ||
    '|' || strftime(ts, '%m/%d/%y') || '|' ||
    strftime(ts, '%Y-%m-%d') AS century,
  strftime(ts, '%I') || ':' || strftime(ts, '%M') || ' ' ||
    strftime(ts, '%p') || ' / ' || CAST(hour(ts) AS VARCHAR) || ' / ' ||
    CAST(((hour(ts) + 11) % 12) + 1 AS VARCHAR) AS h12,
  'Q' || CAST(quarter(ts) AS VARCHAR) || ' day ' || strftime(ts, '%j') ||
    ' w' || CAST(dayofweek(ts) AS VARCHAR) AS qjw,
  '100% ' || chr(9) || chr(10) AS esc,
  strftime(ts, '%I:%M:%S %p %H:%M') || ' ' ||
    lpad(CAST(isoyear(ts) % 100 AS VARCHAR), 2, '0') AS rg,
  strftime(ts, '%S') || '.000000' AS frac
FROM b
"""


@query("scalar_format_datetime", oracle=_SQL_FMT_ORACLE, category="scalars")
def scalar_format_datetime(spark, sf_dir):
    """Full formatDateTime specifier sweep (round 13): the tokenizer's
    pattern codes (%a %b %C %d %D %e %F %h %i %j %k %l %m %M %p %Q %r %R
    %s %S %T %u %V %w %W %y %Y %g %G), literal-text quoting ('Day', 'Q',
    'w' must NOT be read as Java pattern letters), and the %%/%t/%n
    escapes — per-row timestamps so 12-hour/AM-PM/ISO-week branches all
    vary.  Oracle rebuilds each string from DuckDB primitives."""
    from mcp_clickhouse_spark.dialect import translate

    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(translate(_SQL_FMT_CH))


_SQL_R13_CH = """
SELECT o_orderkey,
  intDiv(o_orderkey * 999999999999, 1000000000000) AS idiv,
  intDivOrZero(o_orderkey, o_orderkey % 3) AS idz,
  toInt64(toDayOfWeek(o_orderdate)) AS dw0,
  toInt64(toDayOfWeek(o_orderdate, 1)) AS dw1,
  toInt64(toDayOfWeek(o_orderdate, 2)) AS dw2,
  toInt64(toDayOfWeek(o_orderdate, 3)) AS dw3,
  toDateOrZero(if(o_orderkey % 2 = 0,
                  substring(toString(o_orderdate), 1, 10), 'nope')) AS dz,
  toDate32OrZero(if(o_orderkey % 2 = 0,
                    substring(toString(o_orderdate), 1, 10), 'nope')) AS dz32,
  toDateTimeOrZero(if(o_orderkey % 2 = 0,
      concat(substring(toString(o_orderdate), 1, 10), ' 01:02:03'),
      'x')) AS dtz,
  dateDiff('week', toDate('1995-01-01'), o_orderdate) AS wk,
  toStartOfWeek(o_orderdate) AS sow0,
  toStartOfWeek(o_orderdate, 9) AS sow9
FROM orders
"""

_SQL_R13_ORACLE = """
SELECT o_orderkey,
  (o_orderkey * 999999999999) // 1000000000000 AS idiv,
  CASE WHEN o_orderkey % 3 = 0 THEN 0
       ELSE o_orderkey // (o_orderkey % 3) END AS idz,
  isodow(o_orderdate) AS dw0,
  isodow(o_orderdate) - 1 AS dw1,
  dayofweek(o_orderdate) AS dw2,
  dayofweek(o_orderdate) + 1 AS dw3,
  CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_orderdate AS DATE)
       ELSE DATE '1970-01-01' END AS dz,
  CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_orderdate AS DATE)
       ELSE DATE '1970-01-01' END AS dz32,
  CASE WHEN o_orderkey % 2 = 0
       THEN CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
            + INTERVAL 3723 SECOND
       ELSE TIMESTAMP '1970-01-01 00:00:00' END AS dtz,
  date_diff('week', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS wk,
  CAST(o_orderdate AS DATE)
    - CAST(dayofweek(o_orderdate) AS INTEGER) AS sow0,
  CAST(date_trunc('week', o_orderdate) AS DATE) AS sow9
FROM orders
"""


@query("scalar_round13", oracle=_SQL_R13_ORACLE, category="scalars")
def scalar_round13(spark, sf_dir):
    """Round-13 value-audit closures: intDiv near-integer quotients (the
    advisor's HALF_UP-flip zone — okey*(1-1e-12) must floor DOWN),
    intDivOrZero's zero-divisor rows, toDayOfWeek modes 0-3 (the mode was
    previously ignored), the to*OrZero date family's 1970-01-01 zero
    values on odd keys, Monday-rolling dateDiff('week') anchored at a
    SUNDAY (1995-01-01 — the exact boundary the old Sunday-rolling
    ordinal got wrong), and toStartOfWeek Sunday-mode-0 vs Monday-mode-9.
    DuckDB's date_diff('week') counts Monday crossings natively —
    verified identical to CH's toRelativeWeekNum ordinals including
    negative spans."""
    from mcp_clickhouse_spark.dialect import translate

    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(translate(_SQL_R13_CH))


_SQL_U64_CH = """
SELECT o_orderkey,
  toString(toUInt64('9223372036854775808') + o_orderkey) AS u64_add,
  toString(toUInt64('18446744073709551615') - o_orderkey) AS u64_sub,
  toInt64(if(toUInt64('9223372036854775808') + o_orderkey
             > toUInt64('9223372036854776000'), 1, 0)) AS cmp
FROM orders
WHERE o_orderkey <= 800
"""

_SQL_U64_ORACLE = """
SELECT o_orderkey,
  CAST(CAST('9223372036854775808' AS HUGEINT) + o_orderkey
       AS VARCHAR) AS u64_add,
  CAST(CAST('18446744073709551615' AS HUGEINT) - o_orderkey
       AS VARCHAR) AS u64_sub,
  CAST(CASE WHEN CAST('9223372036854775808' AS HUGEINT) + o_orderkey
                 > CAST('9223372036854776000' AS HUGEINT)
            THEN 1 ELSE 0 END AS BIGINT) AS cmp
FROM orders
WHERE o_orderkey <= 800
"""


_STREAM_RUN_COUNTER = [0]


@query("streaming_embedding_pairs", category="pipeline")  # rows-only: the
# streaming twin is value-pinned to the batch pair generator by
# tests/test_streaming.py (bounded replay == batch pair set, matching
# cosines); this entry proves the stateful embedding-LSH streaming graph
# EXECUTES under the driver session
def streaming_embedding_pairs(spark, sf_dir):
    from mcp_clickhouse_spark.streaming import (
        run_available_now,
        stream_parquet,
        streaming_embedding_neardup,
    )

    _STREAM_RUN_COUNTER[0] += 1
    sink = f"t_stream_embed_{id(spark) % 100000}_{_STREAM_RUN_COUNTER[0]}"
    # threshold 0.45 = the batch pipe_embed_neardup demo threshold: the
    # synthetic corpus has no true near-dups (max pairwise cosine ≈0.51
    # at sf0.01), so this sits where the data has signal
    st = streaming_embedding_neardup(
        stream_parquet(spark, f"{sf_dir}/embeddings.parquet"),
        threshold=0.45,
        max_bucket_size=1000,  # the batch default — the 16-doc stream
        # default evicts this corpus's sparse matches
    )
    run_available_now(st, sink, output_mode="append")
    return spark.table(sink).dropDuplicates(["id_a", "id_b"]).select(
        "id_a", "id_b", "cosine"
    )


@query("scalar_uint64", oracle=_SQL_U64_ORACLE, category="scalars")
def scalar_uint64(spark, sf_dir):
    """UInt64 end-to-end past 2^63 (r11 verdict carry-over #7): toUInt64
    maps to DECIMAL(20,0), addition/subtraction/comparison stay exact in
    the 2^63..2^64 range no BIGINT can hold, and the values marshal as
    strings on both sides (driver canonicalizer rejects DECIMAL/HUGEINT
    columns)."""
    from mcp_clickhouse_spark.dialect import translate

    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(translate(_SQL_U64_CH))


_SQL_R13B_CH = """
SELECT o_orderkey,
  greatest(o_orderkey, if(o_orderkey % 5 = 0, NULL, 0)) AS g,
  least(o_orderkey, if(o_orderkey % 5 = 0, NULL, 1)) AS l,
  toInt64(toRelativeWeekNum(o_orderdate)) AS rw,
  toRelativeMonthNum(o_orderdate) AS rm,
  toInt64(hasToken(o_orderpriority, 'URGENT')) AS ht,
  toStartOfInterval(o_orderdate, INTERVAL 2 MONTH) AS si2m,
  toStartOfInterval(o_orderdate, INTERVAL 1 QUARTER) AS siq,
  toInt64(toWeek(o_orderdate, 1)) AS w1,
  parseDateTimeBestEffort(toString(o_orderkey + 946684800)) AS pe,
  toString(toDecimal64OrZero(if(o_orderkey % 2 = 0, '12.5', 'x'), 2)) AS dz
FROM orders
WHERE o_orderkey <= 30000
"""

_SQL_R13B_ORACLE = """
WITH b AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_orderpriority
  FROM orders WHERE o_orderkey <= 30000),
a AS (
  SELECT *, make_date(CAST(year(d) AS INT), 1, 4)
             - CAST(isodow(make_date(CAST(year(d) AS INT), 1, 4)) - 1
                    AS INTEGER) AS iso_anchor
  FROM b)
SELECT o_orderkey,
  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderkey END AS g,
  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE 1 END AS l,
  (date_diff('day', DATE '1970-01-01', d) + 3) // 7 AS rw,
  year(d) * 12 + month(d) AS rm,
  CASE WHEN list_contains(
         string_split_regex(o_orderpriority, '[^A-Za-z0-9]+'), 'URGENT')
       THEN 1 ELSE 0 END AS ht,
  make_date(1970 + CAST((((year(d) - 1970) * 12 + month(d) - 1)
      - ((year(d) - 1970) * 12 + month(d) - 1) % 2) // 12 AS INT),
    CAST((((year(d) - 1970) * 12 + month(d) - 1)
      - ((year(d) - 1970) * 12 + month(d) - 1) % 2) % 12 AS INT) + 1,
    1) AS si2m,
  CAST(date_trunc('quarter', d) AS DATE) AS siq,
  CASE WHEN d < iso_anchor THEN 0
       ELSE date_diff('day', iso_anchor, d) // 7 + 1 END AS w1,
  TIMESTAMP '1970-01-01 00:00:00'
    + (o_orderkey + 946684800) * INTERVAL 1 SECOND AS pe,
  CASE WHEN o_orderkey % 2 = 0 THEN '12.50' ELSE '0.00' END AS dz
FROM a
"""


@query("scalar_round13b", oracle=_SQL_R13B_ORACLE, category="scalars")
def scalar_round13b(spark, sf_dir):
    """Round-13 wave-2 closures, oracle-checked by independent DuckDB
    reconstruction: greatest/least NULL propagation (the oracle builds
    the NULL rows from the key arithmetic, never calling DuckDB's
    NULL-skipping greatest), Monday-rolling toRelativeWeekNum and
    toRelativeMonthNum ordinals, hasToken token-boundary containment,
    calendar toStartOfInterval (2-month epoch-anchored buckets + quarter),
    toWeek mode 1 (ISO numbering with pre-week-1 dates at 0), the
    parseDateTimeBestEffort bare-epoch-string corner, and
    toDecimal64OrZero's typed zero (string-marshaled — the driver
    canonicalizer rejects DECIMAL columns)."""
    from mcp_clickhouse_spark.dialect import translate

    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(translate(_SQL_R13B_CH))
