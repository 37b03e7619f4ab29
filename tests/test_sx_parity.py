"""Reconstruction pins for SQL-string forms whose Column form is
gone: the hyperplane bucket, the PQ subvector slicer and the JL
projection.

Each test builds the same projection from the ``_sx`` string and from
a local Column composition of the documented formula over the real
sf0.001 fixture, and asserts bit-identical results: schema equality
plus ``exceptAll`` empty in BOTH directions. Doubles included — both
forms compile to the same expression tree, so even float accumulation
order is identical, and binary equality is the correct bar (a
tolerance would hide exactly the drift these pins exist to catch).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.sources import load_table
from tests.conftest import SF_DIR


def _assert_parity(df_col, df_sx):
    assert [f.dataType for f in df_col.schema.fields] == [
        f.dataType for f in df_sx.schema.fields
    ], "Column and _sx forms resolved to different types"
    assert df_col.exceptAll(df_sx).isEmpty(), "Column-form rows missing from _sx form"
    assert df_sx.exceptAll(df_col).isEmpty(), "_sx-form rows missing from Column form"


def _embs(spark):
    return load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")


def test_hyperplane_bucket_twin_parity(spark):
    """hyperplane_bucket_sx vs the Column composition of the sign-bit
    sum over per-hyperplane dot products."""
    from oracle_to_cassandra_spark.operators.similarity import (
        hyperplane_bucket_sx,
        hyperplane_signs,
    )

    signs = hyperplane_signs()
    e = _embs(spark)

    def column_bucket(emb):
        sig = F.lit(0)
        for j, row in enumerate(signs):
            dotj = F.aggregate(
                F.zip_with(
                    emb,
                    F.array(*[F.lit(s) for s in row]),
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            sig = sig + F.when(dotj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        return sig.cast("long")

    col_form = e.select("vec_id", column_bucket(F.col("embedding")).alias("b"))
    sx_form = e.select(
        "vec_id", F.expr(hyperplane_bucket_sx("embedding", signs)).alias("b")
    )
    _assert_parity(col_form, sx_form)


def test_pq_subvectors_twin_parity(spark):
    """similarity_pq._subvectors vs the Column composition of the
    per-subspace slice + micro-unit rounding."""
    from oracle_to_cassandra_spark.queries.similarity_pq import (
        M,
        SUB,
        _subvectors,
    )

    e = _embs(spark).withColumn("label", F.lit(0))

    def old_subvectors(edf):
        slices = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.transform(
                        F.slice("embedding", m * SUB + 1, SUB),
                        lambda x: F.round(x.cast("double") * 1000000).cast(
                            "long"
                        ),
                    ).alias("sv"),
                )
                for m in range(M)
            ]
        )
        return edf.select(
            "vec_id", "label", F.explode(slices).alias("s")
        ).select(
            "vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
        )

    _assert_parity(old_subvectors(e), _subvectors(e))


def test_jl_projection_twin_parity(spark):
    """_project_sx vs the Column fold of the per-row dot product,
    scaled and rounded to 6 dp."""
    from oracle_to_cassandra_spark.queries.similarity_jl import (
        _MAT,
        _SCALE,
        _project_sx,
    )

    e = _embs(spark)

    def column_project(emb):
        return F.array(
            *[
                F.round(
                    F.aggregate(
                        F.zip_with(
                            emb,
                            F.array(*[F.lit(v) for v in row]),
                            lambda x, y: x.cast("double") * y,
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / _SCALE,
                    6,
                )
                for row in _MAT
            ]
        )

    col_form = e.select("vec_id", column_project(F.col("embedding")).alias("p"))
    sx_form = e.select("vec_id", F.expr(_project_sx("embedding")).alias("p"))
    _assert_parity(col_form, sx_form)
