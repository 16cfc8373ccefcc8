"""Caller-supplied column names that need quoting in SQL text.

The minhash, simhash, JL-projection and LSH-bucket builders parse SQL
strings once instead of making one py4j call per Column operator; a
column name interpolated into that text must reach the parser quoted,
or ``doc id`` and ``vec-1`` misparse. Each builder must give the same
rows under such names as under plain ones.
"""

from __future__ import annotations

from bigquery_cross_environment_etl_pipeline_spark.functions.scalar import sql_ident
from bigquery_cross_environment_etl_pipeline_spark.operators import dedup, similarity
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_sql_ident_quotes_and_escapes():
    assert sql_ident("doc id") == "`doc id`"
    assert sql_ident("a`b") == "`a``b`"


def test_dedup_builders_take_an_id_column_with_a_space(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(80)
    spaced = docs.withColumnRenamed("doc_id", "doc id")

    sigs = dedup.minhash_signatures(docs)
    spaced_sigs = dedup.minhash_signatures(spaced, id_col="doc id")
    assert spaced_sigs.columns[0] == "doc id"
    assert _rows(spaced_sigs) == _rows(sigs)
    assert _rows(dedup.lsh_candidate_pairs(spaced_sigs, id_col="doc id")) == _rows(
        dedup.lsh_candidate_pairs(sigs)
    )
    assert _rows(dedup.simhash_fingerprints(spaced, id_col="doc id")) == _rows(
        dedup.simhash_fingerprints(docs)
    )


def test_vector_builders_take_a_vector_column_with_a_hyphen(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    hyphen = emb.withColumnRenamed("embedding", "vec-1")

    def built(df, vec):
        return df.select(
            "vec_id",
            similarity.jl_project(vec).alias("p"),
            similarity.lsh_bucket_expr(vec, 6).alias("b"),
            similarity.lsh_bucket_expr(vec, 4, plane_offset=6).alias("b2"),
        )

    got = _rows(built(hyphen, "vec-1"))
    assert got == _rows(built(emb, "embedding"))
    assert len({r[2] for r in got}) > 1, "buckets should not collapse to one value"
