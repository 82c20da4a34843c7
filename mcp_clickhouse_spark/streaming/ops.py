"""Streaming twins: the `events` analytics and the document pipeline
operators as readStream graphs.

Each transformation here is the SAME logical plan as its batch twin
(inventory/timeseries.py, pipeline/) — Structured Streaming's contract —
plus the streaming-only concerns: watermarks for late data, stateful dedup,
and applyInPandasWithState operators.  Both near-dup operators share one
stateful bucket emitter (``_bucket_pairs_stream``), and every parquet stream
but ``events`` comes from ``stream_parquet``, typed from the parquet footer
with no Spark job.

Scale notes: state stores shard by the grouping key across executors;
watermarks bound state size (without one, a 100 TB stream accretes state
forever). availableNow triggers give reproducible batch-equivalent runs for
tests and backfills.
"""

from __future__ import annotations

from typing import Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over the events parquet, ts normalized to TimestampType.

    The file source replays existing files in order — the standard way to
    develop/backfill the same pipeline that later points at Kafka.
    ``max_files_per_trigger`` bounds files admitted per micro-batch: the
    rate-limited backfill.  Point the stream at a directory of historical
    files and availableNow + maxFilesPerTrigger drain it incrementally —
    bounded state growth and shuffle size per micro-batch instead of one
    giant batch, same final answer.  At 100 TB the trigger bound is what
    keeps a year-long replay from materializing a year of input in one go.

    readStream requires an explicit schema, so the ts physical type is
    sniffed from the parquet footer: µs/ms-precision files read as
    TimestampNTZType (the batch read_table type) and cast to TimestampType,
    so stream≡batch values hold in ANY session timezone, not just UTC;
    ns-precision files (which Spark can only surface as raw longs via the
    nanosAsLong legacy conf) read as LongType and convert.  When no footer
    is readable (empty/late-arriving source dir, remote URI) we fall back to
    the ns/LongType path, which is what the driver-generated testdata uses.
    """
    import glob
    import os

    ts_unit = "ns"
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as patypes

        candidates = sorted(glob.glob(os.path.join(sf_dir, "events*.parquet")))
        if candidates:
            ts_arrow = pq.read_schema(candidates[0]).field("ts").type
            if patypes.is_timestamp(ts_arrow):
                ts_unit = ts_arrow.unit
    except Exception:  # noqa: BLE001 — unreadable footer → ns fallback
        pass

    def _with_rate(reader):
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader

    if ts_unit != "ns":
        from pyspark.sql.types import TimestampNTZType

        # NTZ carries the same wall-clock as batch read_table; the cast to
        # TimestampType (needed for watermark semantics) then goes through
        # the session tz symmetrically on both paths.
        return (
            _with_rate(
                spark.readStream.schema(_events_schema(TimestampNTZType())).option(
                    "pathGlobFilter", "events*.parquet"
                )
            )
            .parquet(sf_dir)
            .withColumn("ts", F.col("ts").cast(TimestampType()))
        )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _with_rate(
        spark.readStream.schema(_events_schema(LongType())).option(
            "pathGlobFilter", "events*.parquet"
        )
    ).parquet(sf_dir)
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"):
    """Tumbling window counts with late-data tolerance = `watermark`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes",
                   watermark: str = "2 hours"):
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"):
    """Session windows per user — state closes `gap` after the last event."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, keys: list[str] | None = None,
                    watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key stream: dropDuplicates with watermark-bounded
    state (the streaming twin of exact dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_incremental_dedup(
    stream: DataFrame,
    corpus_keys: DataFrame,
    key_col: str = "dedup_key",
    ts_col: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``pipeline.dedup.incremental_dedup``: rows arriving
    on the stream are deduped within the stream (first arrival wins) and
    against a STATIC corpus key set via a stream-static LEFT ANTI join —
    the continuous-ingest shape where yesterday's corpus keys are a fixed
    side input and only genuinely new content flows through.

    With ``ts_col`` the within-stream state is watermark-bounded
    (``dropDuplicatesWithinWatermark``); without one it falls back to plain
    ``dropDuplicates`` — unbounded state, only appropriate for bounded
    backfill replays.  The anti-join itself is stateless per micro-batch.
    """
    if ts_col is not None:
        within = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [key_col]
        )
    else:
        within = stream.dropDuplicates([key_col])
    return within.join(corpus_keys.select(key_col), key_col, "left_anti")


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)


def user_running_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, sum(value), last ts) — the canonical shape for bespoke state
    machines that window()/session_window() can't express."""

    def update(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((n, total, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total], "last_ts": [last]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType="n LONG, total DOUBLE, last TIMESTAMP",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now(stream_df: DataFrame, sink_table: str, output_mode: str = "complete"):
    """Drain everything currently available into an in-memory sink and stop —
    reproducible test/backfill runs of the streaming graph."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_parquet(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a parquet file or directory (the continuous-ingest
    shape: the file source for backfills and tests, Kafka in production).

    The file source needs its schema up front.  It comes from the first
    file's footer (``session._footer_schema``, as ``read_table`` takes it),
    so building the stream runs no Spark job; where the footer mapping
    declines, or no file is readable, Spark infers the schema.  A
    single-FILE path (e.g. ``<sf_dir>/documents.parquet``) streams via its
    parent directory + a pathGlobFilter, since the file source only accepts
    directories."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mcp_clickhouse_spark.session import _footer_schema

    src = path
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if os.path.isfile(path):
        files = [path]
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    else:  # like Spark, skip names starting with "_" (glob skips ".")
        files = sorted(glob.glob(os.path.join(path, "[!_]*.parquet")))
    try:
        with pq.ParquetFile(files[0]) as pf:
            schema = _footer_schema(spark, pf)
    except (IndexError, OSError, pa.ArrowException):  # no file, or unreadable
        schema = None
    return reader.schema(schema or spark.read.parquet(src).schema).parquet(path)


def _bucket_pairs_stream(
    banded: DataFrame,
    score: Callable[[list, list], float | None],
    max_bucket_size: int,
    score_col: str,
) -> DataFrame:
    """Near-dup pairs from a stream of ``(band, bucket, id, val)`` rows (the
    four columns in that order): the one stateful emitter of both streaming
    near-dup operators, as ``dedup.bucket_pairs`` is of the batch ones.

    applyInPandasWithState keeps, per (band, bucket), the
    ``max_bucket_size`` LOWEST ids seen (the batch cap policy) and their
    values, as typed ``ids ARRAY<BIGINT>, vals ARRAY<val type>`` state.  Each
    micro-batch's rows run in id order:
    - a known id (a replay, or a duplicate delivery in one micro-batch)
      emits nothing;
    - in a full bucket a higher id is dropped; a lower one evicts the
      highest BEFORE pairing, so pairs form only among retained members,
      never with the evictee;
    - a newly retained id pairs with every retained co-occupant whose
      ``score(val, val_j)`` is not None.

    Output rows are ``(band, bucket, id_a < id_b, <score_col> DOUBLE)``.
    """
    from mcp_clickhouse_spark.pipeline.dedup import check_bucket_cap

    check_bucket_cap(max_bucket_size)
    banded = banded.toDF("band", "bucket", "id", "val")
    cols = ["band", "bucket", "id_a", "id_b", score_col]
    out_schema = f"band BIGINT, bucket BIGINT, id_a BIGINT, id_b BIGINT, {score_col} DOUBLE"

    def emit(
        key: Tuple[int, int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ids, vals = map(list, state.get) if state.exists else ([], [])
        # by id only: the values of a tied id are arrays, which do not compare
        rows = sorted(
            ((int(i), v) for pdf in pdfs for i, v in zip(pdf["id"], pdf["val"])),
            key=lambda r: r[0],
        )
        out = []
        for i, v in rows:
            if i in ids:
                continue
            if len(ids) >= max_bucket_size:
                top = max(ids)
                if i > top:
                    continue
                k = ids.index(top)
                del ids[k], vals[k]
            v = v.tolist()
            for j, vj in zip(ids, vals):
                s = score(v, vj)
                if s is not None:
                    out.append((*key, min(i, j), max(i, j), s))
            ids.append(i)
            vals.append(v)
        state.update((ids, vals))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        emit,
        outputStructType=out_schema,
        stateStructType=f"ids ARRAY<BIGINT>, vals ARRAY<{dict(banded.dtypes)['val']}>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_minhash_neardup(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int = 16,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection: as documents arrive, emit
    candidate pairs against everything previously seen in the same LSH
    bucket — the continuous twin of the batch
    ``minhash_signatures → minhash_lsh_candidates`` pipeline, producing the
    SAME pairs on a bounded replay (pinned by test).

    Stages:
    1. Per-row OPH signature (``dedup.with_minhash_signature``) — stateless,
       identical values to the batch aggregation.
    2. Banding: per band, xxhash64 of the band's signature rows → (band,
       bucket) keys, exploded per doc.  Same expression as the batch LSH.
    3. The shared emitter (:func:`_bucket_pairs_stream`) pairs each newly
       retained doc with its bucket's co-occupants, scored by signature
       agreement (the Jaccard estimate).

    Scale/state notes: state shards by (band, bucket) across executors and
    is bounded at max_bucket_size entries per bucket — the same degenerate-
    corpus cap as the batch pipeline, so a boilerplate mega-bucket cannot
    accrete unbounded state.  Bucket state has no natural event-time bound
    (a dup may arrive years later); production would add a TTL
    (ProcessingTimeTimeout) to trade recall for state size — kept
    timeout-free here so bounded replays match batch exactly.  The one
    semantic difference from batch: an under-min-id doc arriving AFTER the
    bucket emitted pairs cannot retro-emit pairs for evicted members;
    batch (which sees all docs at once) can.  Pairs may repeat across
    bands (and across retries); consumers dedup on (id_a, id_b) —
    same ``.distinct()`` contract as the batch candidate generator.
    """
    from mcp_clickhouse_spark.pipeline.dedup import (
        band_bucket_posexplode,
        with_minhash_signature,
    )

    banded = with_minhash_signature(docs, num_hashes=num_hashes).selectExpr(
        band_bucket_posexplode(bands, num_hashes // bands), "doc_id", "signature"
    )
    return _bucket_pairs_stream(
        banded,
        lambda v, vj: sum(a == b for a, b in zip(v, vj)) / float(num_hashes),
        max_bucket_size,
        "est_jaccard",
    )


def span_filter_apply(
    docs: DataFrame,
    boilerplate_keys: DataFrame,
    chunk_tokens: int = 20,
) -> DataFrame:
    """APPLY side of ``pipeline.dedup.span_dedup``: cut documents' spans
    whose md5 appears in ``boilerplate_keys`` (one column ``chunk_key`` —
    e.g. span_dedup's frequency stage filtered to nd > 1), reassemble the
    remainder in order.  Pure batch transformation; inside a
    ``foreachBatch`` it is the per-micro-batch streaming runner too (a
    document arrives whole inside one micro-batch).

    Returns the same ``(doc_id, kept_chunks, dropped_chunks, cleaned_text)``
    shape as the batch operator (equality pinned by test).
    """
    from mcp_clickhouse_spark.pipeline.dedup import doc_spans, regroup_spans

    spans = doc_spans(docs, chunk_tokens=chunk_tokens)
    flagged = spans.join(
        # distinct: a key table with repeated chunk_key rows (e.g. a union
        # of per-snapshot key sets) would otherwise multiply flagged rows
        # and corrupt the dropped_chunks count
        boilerplate_keys.select("chunk_key").distinct().withColumn("_bad", F.lit(True)),
        "chunk_key",
        "left",
    ).withColumn("_keep", F.col("_bad").isNull())
    return regroup_spans(flagged)


def streaming_embedding_neardup(
    vecs: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 2,
    planes_per_band: int = 6,
    dim: int = 64,
    max_bucket_size: int = 16,
) -> DataFrame:
    """Streaming embedding-cosine near-dup detection — the continuous twin
    of ``pipeline.similarity.embedding_neardup_pairs``.  As vectors arrive,
    each is random-hyperplane-banded with the SAME seeded plane expressions
    as the batch op (``similarity.band_plane_exprs``), and the shared
    emitter (:func:`_bucket_pairs_stream`) pairs it with the bucket's
    retained co-occupants by exact cosine (float64, rounded to 6 places),
    keeping ``cosine >= threshold``.

    Cap/evict policy mirrors the batch ``bucket_pairs`` exactly (retain
    the ``max_bucket_size`` LOWEST ids), so an ID-ORDERED bounded replay
    yields the same pair set as the batch run with
    ``collapse_identical=False`` (pinned by test; the stream cannot know
    the global min-id representative, same caveat as
    streaming_minhash_neardup).  With OUT-OF-ORDER arrival the stream
    emits a SUPERSET of the batch pairs: a late lower id can evict a
    higher id whose already-emitted pairs cannot be retracted in append
    mode.  State is bounded per bucket; production adds a TTL to trade
    recall for state — kept timeout-free here so replays match batch."""
    from mcp_clickhouse_spark.pipeline.similarity import band_plane_exprs

    plane_cols, bucket_exprs = band_plane_exprs(
        vec_col, bands, planes_per_band, dim
    )
    banded = vecs.select(id_col, vec_col, *plane_cols).select(
        F.posexplode(F.array(*[F.expr(e) for e in bucket_exprs])).alias(
            "band", "bucket"
        ),
        id_col,
        vec_col,
    )

    def cosine(v: list, vj: list) -> float | None:
        ni = sum(x * x for x in v) ** 0.5
        nj = sum(x * x for x in vj) ** 0.5
        if ni == 0.0 or nj == 0.0:
            return None
        cos = round(sum(a * b for a, b in zip(v, vj)) / (ni * nj), 6)
        return cos if cos >= threshold else None

    return _bucket_pairs_stream(banded, cosine, max_bucket_size, "cosine")


def streaming_corpus_stats(docs: DataFrame) -> DataFrame:
    """Running per-(source, lang) corpus statistics over a document ingest
    stream: doc count, total chars, total whitespace tokens — the live
    dashboard every continuous-crawl pipeline keeps.

    A plain streaming aggregation in update/complete mode: state is one row
    per (source, lang) — bounded by source×lang CARDINALITY, not stream
    length, so no watermark is needed (there is no per-doc state).  The
    aggregate itself is the exact batch expression, so an availableNow
    replay equals the batch groupBy (pinned by test).
    """
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), "\\s+"))).alias("total_tokens"),
    )
