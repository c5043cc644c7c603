"""Round-15 pins: the JVM-parsed SQL expression families must stay
value-identical to the Column-API forms they replaced (guide §4 —
plan-construction cost moved to one py4j round trip per family; these
tests keep the equivalence provable if anyone edits the strings).

Each test rebuilds the ORIGINAL Column-API expression inline as the
reference and asserts bitwise-equal results on the sf0.001 fixture.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkstreaming_rawdataingestion_spark import catalog
from sparkstreaming_rawdataingestion_spark.operators import dedup, similarity


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_simhash_signatures_match_column_form(spark, sf_dir):
    d = catalog.load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sig = sum(
        (
            F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(0)
            * F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        )
        for i in range(64)
    )
    ref = votes.select("doc_id", sig.alias("simhash"))
    assert _rows(dedup.simhash_signatures(spark, sf_dir)) == _rows(ref)


def test_simhash_portable_signatures_match_column_form(spark, sf_dir):
    d = catalog.load_table(spark, sf_dir, "documents")
    h0 = F.aggregate(
        F.split(F.col("tok"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c) % 256) % 1000000007,
    )
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", h0.alias("h0"))
    m1 = (F.col("h0") * dedup._MIX1) % dedup._M32
    mixed = tok.select(
        "doc_id", m1.alias("m1"), ((m1 * dedup._MIX2) % dedup._M32).alias("m2")
    )
    bits = [
        F.shiftright(F.col("m1"), 16 + i).bitwiseAND(F.lit(1))
        if i < 16
        else F.shiftright(F.col("m2"), i).bitwiseAND(F.lit(1))
        for i in range(dedup.SIMHASH_PORTABLE_BITS)
    ]
    votes = mixed.groupBy("doc_id").agg(
        *[F.sum(2 * b - 1).alias(f"v{i}") for i, b in enumerate(bits)]
    )
    sig = sum(
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(dedup.SIMHASH_PORTABLE_BITS)
    )
    ref = votes.select("doc_id", sig.alias("simhash"))
    assert _rows(dedup.simhash_portable_signatures(spark, sf_dir)) == _rows(ref)


def test_rp_bands_match_column_form(spark, sf_dir):
    e = catalog.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity._emb_double().alias("v")
    )

    def dot_lit(vec, plane):
        lit = F.array(*[F.lit(x) for x in plane])
        return F.aggregate(
            F.zip_with(vec, lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, v: s + v,
        )

    bits = [
        F.when(dot_lit(F.col("v"), similarity.HYPERPLANES[p]) >= 0, 1)
        .otherwise(0)
        for p in range(similarity.N_PLANES)
    ]
    bands = []
    for b in range(similarity.LSH_BANDS):
        bucket = None
        for i in range(similarity.LSH_BITS):
            term = bits[b * similarity.LSH_BITS + i] * F.lit(1 << i)
            bucket = term if bucket is None else bucket + term
        bands.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    ref = e.select(
        "vec_id", F.explode(F.array(*bands)).alias("bb")
    ).select("vec_id", "bb.band", "bb.bucket")
    got = e.select(
        "vec_id", F.explode(similarity.rp_bands("v")).alias("bb")
    ).select("vec_id", "bb.band", "bb.bucket")
    assert _rows(got) == _rows(ref)


def test_rp_bands_rejects_column_argument(spark):
    """rp_bands splices its argument into SQL text, so a Column must fail
    with a clear TypeError rather than an opaque parse error later."""
    for bad in (F.col("v"), None, 3):
        with pytest.raises(TypeError, match="column name"):
            similarity.rp_bands(bad)


def test_lsh_portable_signature_matches_column_form(spark, sf_dir):
    e = catalog.load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")

    def portable_dot(col, k):
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(similarity._LSH_DIMS)),
                lambda i: F.element_at(col, i).cast("double")
                * (
                    (
                        (F.lit(k) * similarity._LSH_DIMS + i.cast("long"))
                        * similarity._LSH_MIX
                    )
                    % similarity._LSH_M32
                    - 2147483648.0
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    ref_sig = sum(
        F.when(portable_dot(emb, k) >= 0, F.lit(1 << k)).otherwise(0)
        for k in range(similarity.LSH_PORTABLE_BITS)
    )
    ref = _rows(e.select("vec_id", ref_sig.alias("s")))
    got = _rows(e.select("vec_id", similarity.lsh_portable_sig().alias("s")))
    assert got == ref
