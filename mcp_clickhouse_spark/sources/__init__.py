"""Source connectors — the chDB table-function analogs (SURVEY.md B19-B26).

One reader per source: SQLite and Avro each read through their Python Data
Source (``sqlite_datasource.SqliteDataSource``, ``avro_lite.AvroLiteDataSource``),
which ``table_functions.sqlite()`` and ``avro_lite.read_avro`` call.

This package imports none of its modules: Spark's Python workers import it
before every Data Source module they run, and a worker needs none of the
table-function or Avro code."""
