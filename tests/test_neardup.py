"""Near-duplicate candidate generation (pipeline/dedup.neardup_candidates):
MinHash-LSH, SimHash and embedding near-dup share one collapse-and-band
generator — identical keys collapse to their min-id representative, members
ride synthetic band=-1 buckets, and bucket_pairs emits the pairs.

Candidate PAIR SETS are the rows-only contract surface, so each operator is
pinned by exact set equality against a faithful reconstruction of its older
two-branch shape (star pairs unioned with rep-only banding), on adversarial
synthetic corpora AND the real testdata.  The reconstructions are the
reference implementations.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _legacy_candidates(sigs, id_col="doc_id", bands=8, rows_per_band=4,
                       max_bucket_size=500):
    """Byte-faithful reconstruction of the pre-r18 collapse_identical=True
    shape: star pairs from a window-min filter, banding over reps only,
    union, distinct."""
    from pyspark.sql import Window

    from mcp_clickhouse_spark.pipeline.dedup import (
        band_bucket_posexplode,
        bucket_pairs,
    )

    rep_w = Window.partitionBy("signature")
    with_rep = sigs.withColumn("_rep", F.min(id_col).over(rep_w))
    star = with_rep.where(F.col(id_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    banded = with_rep.where(F.col(id_col) == F.col("_rep")).selectExpr(
        id_col, band_bucket_posexplode(bands, rows_per_band)
    )
    return bucket_pairs(banded, id_col, max_bucket_size).unionByName(star).distinct()


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


CORPUS = [
    # exact-dup cluster of 4 (star pairs must attach to min id 10)
    (10, "the quick brown fox jumps over the lazy dog again and again"),
    (11, "the quick brown fox jumps over the lazy dog again and again"),
    (12, "the quick brown fox jumps over the lazy dog again and again"),
    (13, "the quick brown fox jumps over the lazy dog again and again"),
    # near-dup pair (one word changed) — must come from banding
    (20, "pack my box with five dozen liquor jugs before noon today ok"),
    (21, "pack my box with five dozen liquor jugs before noon tomorrow ok"),
    # unique docs
    (30, "completely unrelated content about distributed query planning"),
    (31, "yet another document mentioning shuffle partitions and skew"),
    # short docs (shingle padding path) — identical pair
    (40, "tiny"),
    (41, "tiny"),
    # empty-ish doc
    (50, " "),
    # a second exact-dup cluster interleaved with the near-dups
    (60, "pack my box with five dozen liquor jugs before noon today ok"),
]


def test_minhash_candidates_unified_generator_matches_legacy(spark):
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )

    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    sigs = minhash_signatures(df, num_hashes=32)
    got = _pairs(minhash_lsh_candidates(sigs, bands=8, rows_per_band=4))
    want = _pairs(_legacy_candidates(sigs))
    assert got == want and len(got) > 0
    # structure sanity: doc 60 dups doc 20's text, so (20, 60) is a star
    # pair; the exact-dup cluster stars on 10
    assert (10, 11) in got and (10, 12) in got and (10, 13) in got
    assert (20, 60) in got
    release_persisted()
    spark.catalog.clearCache()


def test_minhash_candidates_null_ids_dropped_like_legacy(spark):
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )

    rows = CORPUS + [
        (None, "the quick brown fox jumps over the lazy dog again and again"),
        (None, "null cluster only text that matches nothing else at all"),
        (None, "null cluster only text that matches nothing else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = minhash_signatures(df, num_hashes=32)
    got = _pairs(minhash_lsh_candidates(sigs, bands=8, rows_per_band=4))
    want = _pairs(_legacy_candidates(sigs))
    # legacy branch predicates (id =/!= rep) silently dropped NULL ids;
    # the unified generator filters them explicitly — sets must agree and
    # contain no NULLs
    assert got == want
    assert all(a is not None and b is not None for a, b in got)
    release_persisted()
    spark.catalog.clearCache()


def test_minhash_candidates_match_legacy_on_testdata(spark, sf_dir):
    """Full-corpus pin at sf0.001 (real near-dup structure from the driver
    generator) and bucket-cap stress via a tiny max_bucket_size."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )
    from mcp_clickhouse_spark.session import read_table

    d = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=32)
    for cap in (500, 2):  # default, and a cap small enough to truncate
        got = _pairs(
            minhash_lsh_candidates(
                sigs, bands=8, rows_per_band=4, max_bucket_size=cap
            )
        )
        want = _pairs(
            _legacy_candidates(sigs, max_bucket_size=cap)
        )
        assert got == want and len(got) > 0, cap
        release_persisted()
        spark.catalog.clearCache()


def test_minhash_lsh_full_query_rows_unchanged(spark, sf_dir):
    """End-to-end: the declared pipe_minhash_lsh output (id_a, id_b,
    jaccard) through the new candidate generator equals the legacy shape
    fed through the same verify."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        jaccard_verify,
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )
    from mcp_clickhouse_spark.session import read_table

    d = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=32)
    new = sorted(
        map(tuple, jaccard_verify(
            minhash_lsh_candidates(sigs, bands=8, rows_per_band=4), d,
            threshold=0.5,
        ).collect())
    )
    legacy = sorted(
        map(tuple, jaccard_verify(
            _legacy_candidates(sigs), d, threshold=0.5, precompute_sets=False
        ).collect())
    )
    assert new == legacy and len(new) > 0
    release_persisted()
    spark.catalog.clearCache()


def _legacy_simhash_neardups(hashes, id_col="doc_id", max_hamming=3,
                             blocks=4, max_bucket_size=500):
    """Pre-r18 simhash_near_dups: window stars + SEPARATE groupBy reps +
    pigeonhole banding, unioned."""
    from pyspark.sql import Window

    from mcp_clickhouse_spark.pipeline.dedup import SIMHASH_BITS

    rep_w = Window.partitionBy("simhash")
    with_rep = hashes.withColumn("_rep", F.min(id_col).over(rep_w))
    intra = with_rep.where(F.col(id_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"),
        F.lit(0).alias("hamming"),
    )
    reps = hashes.groupBy("simhash").agg(F.min(id_col).alias(id_col))
    width = SIMHASH_BITS // blocks
    chunked = reps.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(blocks - 1)),
                lambda b: F.aggregate(
                    F.sequence(F.lit(width - 1), F.lit(0), F.lit(-1)),
                    F.lit(0).cast("bigint"),
                    lambda acc, i: acc * 2
                    + F.getbit(F.col("simhash"), b * width + i),
                ),
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cap_w = Window.partitionBy("chunk_idx", "chunk_val").orderBy(id_col)
    capped = chunked.withColumn("_rn", F.row_number().over(cap_w)).where(
        F.col("_rn") <= max_bucket_size
    )
    buckets = capped.groupBy("chunk_idx", "chunk_val").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
        ).alias("_e")
    )
    cand = (
        buckets.where(F.size("_e") >= 2)
        .select(F.col("_e"), F.posexplode("_e").alias("_i", "a"))
        .select(
            F.col("a"),
            F.explode(F.slice(F.col("_e"), F.col("_i") + 2, F.size("_e"))).alias("b"),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    cross = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return intra.unionByName(cross)


def test_simhash_neardups_unified_generator_matches_legacy(spark, sf_dir):
    from mcp_clickhouse_spark.pipeline.dedup import simhash_64, simhash_near_dups
    from mcp_clickhouse_spark.session import read_table

    d = read_table(spark, sf_dir, "documents")
    hashes = simhash_64(d)
    for mh, cap in ((3, 500), (6, 500), (3, 2)):
        got = sorted(
            map(tuple, simhash_near_dups(
                hashes, max_hamming=mh, max_bucket_size=cap).collect())
        )
        want = sorted(
            map(tuple, _legacy_simhash_neardups(
                hashes, max_hamming=mh, max_bucket_size=cap).collect())
        )
        assert got == want and len(got) > 0, (mh, cap)
    # the one shared plan computes fingerprints once: a single Window, no
    # Union, no second aggregation over the corpus words
    from mcp_clickhouse_spark.plans import count_nodes, explain_formatted

    plan = explain_formatted(simhash_near_dups(hashes))
    assert count_nodes(plan, "Union") == 0


def _legacy_embedding_neardups(corpus, threshold=0.45, id_col="vec_id",
                               vec_col="embedding", bands=2,
                               planes_per_band=6, dim=64,
                               max_bucket_size=1000):
    """Pre-r18 embedding_neardup_pairs collapse shape (star union)."""
    from pyspark.sql import Window

    from mcp_clickhouse_spark.pipeline.dedup import bucket_pairs
    from mcp_clickhouse_spark.pipeline.similarity import (
        _dot_sql,
        _norm_sql,
        band_plane_exprs,
    )

    meta = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"),
        F.expr(_norm_sql(vec_col)).alias("_norm"),
    )
    rep_w = Window.partitionBy(vec_col)
    with_rep = corpus.select(id_col, vec_col).withColumn(
        "_rep", F.min(id_col).over(rep_w)
    )
    star = with_rep.where(F.col(id_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    reps = with_rep.where(F.col(id_col) == F.col("_rep")).drop("_rep")
    plane_cols, bucket_exprs = band_plane_exprs(vec_col, bands, planes_per_band, dim)
    projected = reps.select(F.col(id_col), *plane_cols)
    banded = projected.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.expr(e) for e in bucket_exprs])).alias(
            "band", "bucket"
        ),
    )
    pairs = (
        bucket_pairs(banded, id_col, max_bucket_size).unionByName(star).distinct()
    )
    return (
        pairs.join(
            meta.select(F.col("_id").alias("id_a"), F.col("_vec").alias("vec_a"),
                        F.col("_norm").alias("norm_a")), on="id_a")
        .join(
            meta.select(F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"),
                        F.col("_norm").alias("norm_b")), on="id_b")
        .withColumn(
            "cosine",
            F.expr(f"round({_dot_sql('vec_a', 'vec_b')} / (norm_a * norm_b), 6)"),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def test_embedding_neardups_unified_generator_matches_legacy(spark, sf_dir):
    from mcp_clickhouse_spark.pipeline.similarity import embedding_neardup_pairs
    from mcp_clickhouse_spark.session import read_table

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # inject exact duplicates so the star/member path is exercised: ids
    # 900000+k copy the embeddings of the 3 smallest vec_ids
    dup_src = e.orderBy("vec_id").limit(3).collect()
    dups = spark.createDataFrame(
        [(900000 + i, r["embedding"]) for i, r in enumerate(dup_src)],
        e.schema,
    )
    e = e.unionByName(dups)
    got = sorted(map(tuple, embedding_neardup_pairs(e, threshold=0.2).collect()))
    want = sorted(map(tuple, _legacy_embedding_neardups(e, threshold=0.2).collect()))
    assert got == want and len(got) > 0
    # the injected duplicates surface as (rep, member) pairs at cosine 1.0
    stars = [(a, b) for a, b, c in got if b >= 900000 and c == 1.0]
    assert len(stars) == 3


def _embeddings_with_dups(spark, sf_dir):
    """The testdata embeddings plus exact copies of the 3 smallest vec_ids
    (ids 900000+k), so the star/member path is exercised."""
    from mcp_clickhouse_spark.session import read_table

    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup_src = e.orderBy("vec_id").limit(3).collect()
    dups = spark.createDataFrame(
        [(900000 + i, r["embedding"]) for i, r in enumerate(dup_src)], e.schema
    )
    return e.unionByName(dups)


def _new_and_legacy(spark, op, sf_dir, cap):
    """(new, legacy) sorted output rows of one operator on the testdata."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        simhash_64,
        simhash_near_dups,
    )
    from mcp_clickhouse_spark.pipeline.similarity import embedding_neardup_pairs
    from mcp_clickhouse_spark.session import read_table

    if op == "embedding":
        e = _embeddings_with_dups(spark, sf_dir)
        new = embedding_neardup_pairs(e, threshold=0.2, max_bucket_size=cap)
        old = _legacy_embedding_neardups(e, threshold=0.2, max_bucket_size=cap)
    else:
        d = read_table(spark, sf_dir, "documents")
        if op == "minhash":
            sigs = minhash_signatures(d, num_hashes=32)
            new = minhash_lsh_candidates(sigs, max_bucket_size=cap)
            old = _legacy_candidates(sigs, max_bucket_size=cap)
        else:
            hashes = simhash_64(d)
            new = simhash_near_dups(hashes, max_bucket_size=cap)
            old = _legacy_simhash_neardups(hashes, max_bucket_size=cap)
    return sorted(map(tuple, new.collect())), sorted(map(tuple, old.collect()))


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
def test_neardup_matches_legacy_at_small_caps(spark, sf_dir, op, scale):
    """Caps 2 (every real bucket truncates, synthetic buckets just fit) and
    20 on both testdata scales: the shared generator's pair sets equal the
    legacy two-branch reconstructions."""
    from mcp_clickhouse_spark.pipeline.dedup import release_persisted

    for cap in (2, 20):
        got, want = _new_and_legacy(
            spark, op, os.path.join(os.path.dirname(sf_dir), scale), cap
        )
        assert got == want and len(got) > 0, (op, cap)
        release_persisted()
        spark.catalog.clearCache()


def test_simhash_and_embedding_null_ids_match_legacy(spark):
    """NULL ids: members of a non-NULL cluster and a NULL-only cluster.
    Both shapes drop them; no output pair may carry a NULL id."""
    from mcp_clickhouse_spark.pipeline.dedup import simhash_64, simhash_near_dups
    from mcp_clickhouse_spark.pipeline.similarity import embedding_neardup_pairs

    rows = CORPUS + [
        (None, "the quick brown fox jumps over the lazy dog again and again"),
        (None, "null cluster only text that matches nothing else at all"),
        (None, "null cluster only text that matches nothing else at all"),
    ]
    hashes = simhash_64(spark.createDataFrame(rows, "doc_id bigint, text string"))
    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [1.0, 0.0, 0.0, 0.0]),
         (None, [1.0, 0.0, 0.0, 0.0]), (20, [0.0, 1.0, 0.0, 0.0]),
         (21, [0.0, 1.0, 0.1, 0.0]), (None, [0.0, 0.0, 0.0, 1.0]),
         (None, [0.0, 0.0, 0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    for cap in (2, 20):
        got = sorted(map(tuple, simhash_near_dups(
            hashes, max_hamming=6, max_bucket_size=cap).collect()))
        want = sorted(map(tuple, _legacy_simhash_neardups(
            hashes, max_hamming=6, max_bucket_size=cap).collect()))
        assert got == want and len(got) > 0, cap
        got = sorted(map(tuple, embedding_neardup_pairs(
            vecs, threshold=0.5, dim=4, max_bucket_size=cap).collect()))
        want = sorted(map(tuple, _legacy_embedding_neardups(
            vecs, threshold=0.5, dim=4, max_bucket_size=cap).collect()))
        assert got == want and (10, 11, 1.0) in got, cap
        assert all(None not in p for p in got)


def _all_operators(df_docs, df_vecs, **kw):
    """Build (not run) the three near-dup operators over the given frames."""
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        simhash_64,
        simhash_near_dups,
    )
    from mcp_clickhouse_spark.pipeline.similarity import embedding_neardup_pairs

    return {
        "minhash": lambda: minhash_lsh_candidates(
            minhash_signatures(df_docs, num_hashes=32), **kw),
        "simhash": lambda: simhash_near_dups(simhash_64(df_docs), **kw),
        "embedding": lambda: embedding_neardup_pairs(df_vecs, dim=4, **kw),
    }


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_non_bigint_ids_rejected(spark, id_type):
    """The id doubles as the synthetic bucket value, so every operator
    rejects a non-bigint id up front, naming the column and its type."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], f"doc_id {id_type}, text string"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        f"vec_id {id_type}, embedding array<float>",
    )
    for build in _all_operators(docs, vecs).values():
        with pytest.raises(ValueError, match=f"must be bigint, got {id_type}"):
            build()


@pytest.mark.parametrize("cap", [1, 0])
def test_bucket_cap_below_two_rejected(spark, cap):
    """A cap below 2 would drop every pair — each synthetic star bucket
    holds exactly two rows — so all three operators reject it."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id bigint, text string"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    for build in _all_operators(docs, vecs, max_bucket_size=cap).values():
        with pytest.raises(ValueError, match="max_bucket_size must be >= 2"):
            build()
