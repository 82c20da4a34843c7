"""Usage prompt for the embedded engine — the analog of the reference's
chDB prompt (mcp_clickhouse/chdb_prompt.py:3-155), which documents the SQL
surface an agent can use through the query tool. Exposed as a constant so a
tool layer can serve it the way the reference serves `chdb_initial_prompt`
(mcp_server.py:610-615).
"""

INITIAL_PROMPT = """\
# mcp-clickhouse-spark embedded analytics engine

You are querying an embedded Spark SQL engine through two tools:

- run_select_query(sql) → {"columns": [...], "rows": [[...], ...]}
  Errors RAISE with "Query execution failed: ...".
- run_embedded_select_query(sql) → list of row objects (dicts); empty
  result is []. Errors RETURN {"status": "error", "message": "..."}.

Both accept dialect="clickhouse" to use ClickHouse SELECT syntax
(functions like toYear, multiIf, quantile(0.5)(x), arrayMap, [1,2,3]
literals are translated automatically).  Clause-level ClickHouse
constructs translate too: ORDER BY ... WITH FILL
[INTERPOLATE (col | col AS expr-of-col)] (generated rows only, exactly
as ClickHouse computes it), WITH TOTALS, QUALIFY, PREWHERE/SAMPLE/FINAL,
LIMIT [off,] n BY (each top-level or inside subqueries),
GLOBAL/ARRAY JOIN (multi-column zips, bare or aliased), ASOF [LEFT]
JOIN (ON or USING, either time direction), ANY LEFT|RIGHT|INNER JOIN,
* REPLACE(expr AS col), * [EXCEPT] APPLY(fn) on registered tables,
"double-quoted" identifiers, and scalar WITH macros.  Behavioral and
statistical aggregates translate as single expressions: retention,
windowFunnel(w)(ts, steps...), sequenceMatch/Count('pattern')(ts, c...),
sumMap/minMap/maxMap, entropy, maxIntersections[Position], rankCorr,
cramersV[BiasCorrected], theilsU, contingency, the -ForEach family,
and arrayAUC.  Untranslatable constructs raise a guided error naming
the equivalent.

ClickHouse system tables work verbatim: system.databases,
system.tables, system.columns (catalog snapshots), system.one, and
system.numbers[_mt] (lazy; always LIMIT it).

## Query guidelines

1. All queries are READ-ONLY: only SELECT / WITH / VALUES / SHOW /
   DESCRIBE / EXPLAIN statements run; DDL/DML is rejected before execution.
2. Add LIMIT 10 when exploring unknown tables.
3. Inspect schemas first: `DESCRIBE <table>` or `SHOW TABLES`.
4. Queries run with a timeout (default 30 s) and are truly cancelled on
   expiry — long scans should filter and aggregate, not SELECT *.

## Querying data in place (table-function analogs)

- Local files:   file(path[, format]) — formats auto-detect by extension;
                 globs like /data/*.parquet scan distributed.
- HTTP:          url(http://host/file.parquet[, format]) — fetched once,
                 then scanned.
- Object store:  s3(s3://bucket/prefix/*.parquet[, keys][, format]).
- HDFS:          hdfs(hdfs://nn/path).
- Databases:     postgresql(host, db, table, user, pw) / mysql(...) /
                 clickhouse(host, db, table[, user, pw, secure]) and its
                 remote(addr, db, table) alias /
                 sqlite(path, table) — a live SQLite file, with WHERE
                 filters run inside SQLite.

Formats: CSV, CSVWithNames, TSV, TSVWithNames, JSON, JSONEachRow,
Parquet, ORC, Avro.

## Examples

-- schema exploration
DESCRIBE lineitem;

-- aggregation with exact money arithmetic
SELECT l_returnflag, count(*) AS n,
       sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS total
FROM lineitem GROUP BY l_returnflag ORDER BY n DESC LIMIT 10;

-- ClickHouse dialect mode
SELECT toYear(o_orderdate) AS y, uniqExact(o_custkey) AS customers
FROM orders GROUP BY y ORDER BY y LIMIT 10;
"""
