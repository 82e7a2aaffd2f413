"""Driver-contract queries vs the DuckDB oracle at sf0.001 — the FULL
registry, dtype-strict (scripts/check_oracle.py runs the same matrix at
sf0.01, the driver's scale)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_UNIT

# the FULL registry (ADVICE r1: local green must imply driver green) — every
# queries() entry with an oracle runs here at sf0.001, dtype-strict
ALL_QUERIES = sorted(entrymod.queries())


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(int)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_UNIT}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    sdf = q(spark, SF_UNIT).toPandas()
    if sql is None:  # rows-only contract (driver runs the weaker check)
        assert len(sdf) >= 0
        return
    ddf = duck.sql(sql).df()
    # dtype-strict: the driver's value hash is type-sensitive (round-1 q12
    # HUGEINT-vs-BIGINT miss passed a lenient compare but failed the driver)
    raw_a = [str(sdf[c].dtype) for c in sorted(sdf.columns)]
    raw_b = [str(ddf[c].dtype) for c in sorted(ddf.columns)]
    assert raw_a == raw_b, f"{name}: dtypes {raw_a} vs {raw_b}"
    a, b = _normalize(sdf), _normalize(ddf)
    assert list(a.columns) == list(b.columns), name
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)}"
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=1e-9)


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"mention_id", "cluster_id"}


@pytest.mark.parametrize("base", ["poly_hash", "xxhash64"])
def test_dedup03_equals_exact_jaccard(spark, base):
    """dedup03 on either base hash (xxhash64, the production fast path, has
    no DuckDB oracle of its own) returns exactly the exact n-gram jaccard
    pairs of dedup02 — the LSH, agreement and verify tiers lose no
    near-dup."""
    from blink_reloaded_spark.functions.hashing import xxhash64_mod
    from blink_reloaded_spark.queries import (
        dedup02_ngram_jaccard,
        dedup03_minhash_lsh,
    )

    hash_fn = xxhash64_mod if base == "xxhash64" else None
    got = dedup03_minhash_lsh(spark, SF_UNIT, hash_fn=hash_fn).toPandas()
    want = dedup02_ngram_jaccard(spark, SF_UNIT).toPandas()
    assert len(got) > 0
    pd.testing.assert_frame_equal(_normalize(got), _normalize(want))


def test_vector_queries_with_null_embedding_match_oracle(spark, tmp_path):
    """An embeddings table holding a NULL vector (a non-query id): the
    numpy-kernel queries drop it exactly as the Column forms did — its cos
    is NULL (never top-k, never >= 0.4) and its bucket is NULL (never
    joined) — so they return the oracle's rows over the other vectors, plus
    ann02's NULL-bucket row. The oracle itself cannot take the NULL row
    (DuckDB's list_dot_product rejects it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    null_id = 45  # >= ANN_NQUERY: a candidate, never a query
    t = pq.read_table(f"{SF_UNIT}/embeddings.parquet").slice(0, 100)
    emb = t.column("embedding").to_pylist()
    emb[t.column("vec_id").to_pylist().index(null_id)] = None
    t = t.set_column(
        t.schema.get_field_index("embedding"), "embedding",
        pa.array(emb, type=t.schema.field("embedding").type),
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
        " WHERE embedding IS NOT NULL"
    )
    for name in [
        "ann01_cosine_topk", "ann02_hyperplane_bucket", "ann03_lsh_topk",
        "ann04_block_matmul", "ann06_multiprobe_lsh", "dedup06_embedding_cosine",
    ]:
        got = entrymod.queries()[name](spark, str(tmp_path)).toPandas()
        want = con.sql(entrymod.oracle_sql()[name]).df()
        if name == "ann02_hyperplane_bucket":
            want = pd.concat(
                [want, pd.DataFrame({"vec_id": [null_id], "bucket": [float("nan")]})],
                ignore_index=True,
            )
        assert len(got) > 0, name
        pd.testing.assert_frame_equal(
            _normalize(got), _normalize(want), check_dtype=False, obj=name
        )


@pytest.mark.parametrize("name", ["ann03_lsh_topk", "ann06_multiprobe_lsh"])
def test_bucket_self_join_runs_bucket_kernel_once(spark, monkeypatch, name):
    """Both sides of the bucket self-join read one (vec_id, embedding,
    bucket) frame: the bucket kernel sees each embeddings row once, not once
    per join side."""
    from pyspark.sql import functions as F

    from blink_reloaded_spark import queries

    kernel = queries.HP_BUCKETS.func
    rows = spark.sparkContext.accumulator(0)

    @F.pandas_udf(returnType=queries.HP_BUCKETS.returnType)
    def counted(vecs):
        rows.add(len(vecs))
        return kernel(vecs)

    monkeypatch.setattr(queries, "HP_BUCKETS", counted.asNondeterministic())
    assert entrymod.queries()[name](spark, SF_UNIT).count() > 0
    n = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet").count()
    assert rows.value == n
