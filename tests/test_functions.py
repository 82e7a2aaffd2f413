"""Function-kernel parity tests: the portable hash / similarity kernels must
match DuckDB bit-for-bit — that's what makes the driver's oracle comparisons
meaningful rather than coincidental."""

from __future__ import annotations

import random

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.embedding import DIM, hashed_embedding_udf
from blink_reloaded_spark.functions.hashing import P, PERMS, poly_hash
from blink_reloaded_spark.functions.similarity import jaro_winkler_np
from blink_reloaded_spark.functions.text import rolling_fingerprint, lang_id_col
from blink_reloaded_spark.oracle import sql_poly_hash, sql_norm


WORDS = ["acme corp", "acme", "", "a", "ab", "hello world", "  spaced  ", "x1y2"]


def test_poly_hash_matches_duckdb(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], "t string")
    got = {
        r["t"]: r["h"]
        for r in df.select("t", poly_hash(F.col("t")).alias("h")).collect()
    }
    con = duckdb.connect()
    for w in WORDS:
        expect = con.execute(
            f"select {sql_poly_hash('?')}", [w]
        ).fetchone()[0]
        assert got[w] == expect, w


def test_jaro_winkler_matches_duckdb_exactly():
    rng = random.Random(5)

    def rnd(alpha):
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 20)))

    words = WORDS + [rnd("abcdef ") for _ in range(60)] + [
        rnd("abcdefghijklmnopqrstuvwxyz0123456789 ") for _ in range(60)
    ]
    pairs = [(rng.choice(words), rng.choice(words)) for _ in range(3000)]
    pairs += [("martha", "marhta"), ("dixon", "dicksonx"), ("duane", "dwayne")]
    mine = jaro_winkler_np(
        pd.Series([p[0] for p in pairs]), pd.Series([p[1] for p in pairs])
    )
    con = duckdb.connect()
    ref = np.array(
        [
            con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
            for a, b in pairs
        ]
    )
    assert np.abs(mine - ref).max() == 0.0


def test_levenshtein_matches_duckdb(spark):
    pairs = [("kitten", "sitting"), ("", "abc"), ("same", "same"), ("ab", "ba")]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [r[0] for r in df.select(F.levenshtein("a", "b")).collect()]
    con = duckdb.connect()
    ref = [
        con.execute("select levenshtein(?, ?)", [a, b]).fetchone()[0]
        for a, b in pairs
    ]
    assert got == ref


def test_minhash_perms_fit_int64():
    # (a*h + b) with a,b,h < P=2^31-1 must stay within int64
    assert all(1 <= a < P and 0 <= b < P for a, b in PERMS)
    assert (P - 1) * (P - 1) + (P - 1) < 2**63


def test_hashed_embedding_deterministic_and_normalized(spark):
    df = spark.createDataFrame(
        [("acme corp",), ("acme corp",), ("zzz",), ("",)], "t string"
    )
    rows = df.select(hashed_embedding_udf(F.col("t")).alias("v")).collect()
    v0, v1, v2, v3 = [np.array(r["v"]) for r in rows]
    assert len(v0) == DIM
    assert np.allclose(v0, v1)  # deterministic
    assert abs(np.linalg.norm(v0) - 1.0) < 1e-5  # L2-normalized
    assert np.linalg.norm(v3) < 1e-6  # empty text -> zero vector
    assert abs(float(v0 @ v2)) < 0.5  # unrelated strings not aligned


def test_fingerprint_and_langid(spark):
    df = spark.createDataFrame(
        [("The AND of the is", "en"), ("der und das ist", "de"), ("xyz", "und")],
        "t string, expect string",
    )
    out = df.select(
        "expect",
        lang_id_col(F.col("t")).alias("lang"),
        rolling_fingerprint(F.col("t")).alias("fp"),
    ).collect()
    for r in out:
        assert r["lang"] == r["expect"]
        assert 0 <= r["fp"] < P


def test_simhash_exploded_equals_inline(spark):
    from pyspark.sql import functions as F

    from blink_reloaded_spark.functions.hashing import simhash64, simhash_exploded
    from blink_reloaded_spark.functions.text import tokens

    rows = [
        (0, "the quick brown fox"),
        (1, "the quick brown fox"),
        (2, "jumps over the lazy dog dog dog"),   # duplicate tokens count
        (3, "x"),
        (4, ""),                                   # empty -> dropped by explode
    ]
    d = spark.createDataFrame(rows, "id long, text string").withColumn(
        "tk", tokens(F.col("text"))
    )
    inline = {r["id"]: r["s"] for r in d.select("id", simhash64(F.col("tk"), 32).alias("s")).collect()}
    expl = {r["id"]: r["simhash"] for r in simhash_exploded(d, "id", F.col("tk"), 32).collect()}
    for i in (0, 1, 2, 3):
        assert expl[i] == inline[i], i
    assert 4 not in expl and inline[4] == 0
    assert inline[0] == inline[1] and inline[0] != inline[2]


def test_minhash_numpy_kernel_parity(spark):
    """r8: the numpy MinHash batch kernel (minhash_sigs_np_udf) must be
    bit-identical to the explode -> poly_hash -> groupBy-min sig table on
    normalized text, including the short-string (<k), empty-string and
    non-ASCII-BMP edge cases char_shingles defines."""
    from blink_reloaded_spark.functions.hashing import (
        minhash_sig_table,
        minhash_sigs_np_udf,
    )
    from blink_reloaded_spark.functions.text import char_shingles

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "abcd"),      # shorter than k=5 -> whole string is the shingle
        (3, "a"),
        (4, ""),          # '' shingle, poly_hash 0
        (5, "abcde"),     # exactly k
        (6, "naïve café résumé"),  # BMP non-ASCII
        (7, "aaaaaaa"),   # duplicate shingles collapse
    ]
    d = spark.createDataFrame(rows, "id long, nt string")
    ref = {
        r["id"]: [r[f"mh{i}"] for i in range(18)]
        for r in minhash_sig_table(
            d, "id", char_shingles(F.col("nt"), 5, normalize=False), 18
        ).collect()
    }
    got = {
        r["id"]: list(r["sig"])
        for r in d.select(
            "id", minhash_sigs_np_udf(5, 18)(F.col("nt")).alias("sig")
        ).collect()
    }
    assert got == ref


def test_minhash_numpy_kernel_rejects_out_of_contract_params():
    """The numpy MinHash kernel is exact only inside its contract: int64
    Horner over k code points < 2^21 overflows at k=10, and more hashes than
    PERMS would return uninitialised memory. Both must fail at factory time,
    not return plausible signatures."""
    from blink_reloaded_spark.functions.hashing import PERMS, minhash_sigs_np_udf

    for k in (0, 10):
        with pytest.raises(ValueError, match="k"):
            minhash_sigs_np_udf(k, 8)
    for n in (0, len(PERMS) + 1):
        with pytest.raises(ValueError, match="num_hashes"):
            minhash_sigs_np_udf(5, n)
    # the contract edges themselves are accepted
    minhash_sigs_np_udf(1, 1)
    minhash_sigs_np_udf(9, len(PERMS))


def test_sig_agreement_flat_equals_lambda(spark):
    """r8: the unrolled codegen agreement must equal the zip_with form."""
    import random as _r

    from blink_reloaded_spark.functions.hashing import (
        sig_agreement,
        sig_agreement_flat,
    )

    rng = _r.Random(5)
    rows = []
    for _ in range(50):
        a = [rng.randrange(100) for _ in range(18)]
        b = [x if rng.random() < 0.5 else rng.randrange(100) for x in a]
        rows.append((a, b))
    df = spark.createDataFrame(rows, "a array<long>, b array<long>")
    got = df.select(
        sig_agreement(F.col("a"), F.col("b")).alias("l"),
        sig_agreement_flat(F.col("a"), F.col("b"), 18).alias("f"),
    ).collect()
    for r in got:
        assert abs(r["l"] - r["f"]) < 1e-12


def test_minhash_xxhash64_band_semantics(spark):
    """Production hash path (hashing.xxhash64_mod): swapping the base hash
    must preserve band SEMANTICS — the LSH candidate-pair set on a
    duplicate-heavy fixture is identical to the portable poly_hash path
    (exact dups collide deterministically under ANY base hash; the
    high-jaccard near-dup pair has miss prob (1-j^2)^bands ~ 1e-7)."""
    from blink_reloaded_spark.functions.hashing import (
        minhash_band_keys_exploded,
        xxhash64_mod,
    )
    from blink_reloaded_spark.functions.text import char_shingles, normalize_text

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base),
        (2, base),                                    # exact dup of 1
        (3, base + " with a short extra tail"),       # near dup, j ~ 0.88
        (4, "completely different content about spark minhash lsh banding"),
        (5, "another unrelated document with entirely different words"),
    ]
    d = spark.createDataFrame(rows, "id long, text string").select(
        "id",
        char_shingles(normalize_text(F.col("text")), 5, normalize=False).alias("sh"),
    )

    def cand_pairs(hf):
        keys = minhash_band_keys_exploded(d, "id", F.col("sh"), 12, 2, hash_fn=hf)
        return set(
            map(
                tuple,
                keys.alias("x")
                .join(keys.alias("y"), "block_key")
                .where(F.col("x.id") < F.col("y.id"))
                .select(F.col("x.id"), F.col("y.id"))
                .distinct()
                .collect(),
            )
        )

    portable = cand_pairs(None)
    production = cand_pairs(xxhash64_mod)
    assert portable == production
    assert {(1, 2), (1, 3), (2, 3)} <= portable
    # the production base hash actually lands in [0, P) (perm family domain)
    mx = d.selectExpr("explode(sh) as s").select(
        F.max(xxhash64_mod(F.col("s"))).alias("mx"),
        F.min(xxhash64_mod(F.col("s"))).alias("mn"),
    ).collect()[0]
    assert 0 <= mx["mn"] and mx["mx"] < P


def test_jw_nul_never_matches_padding(spark):
    """ADVICE r3: an embedded NUL (code 0 at a VALID position) must never
    match the zero padding of the shorter string. The second (longer) pair
    extends the batch's position loop past len(a) of the first pair, which
    is what exposed the missing guard."""
    import pandas as pd

    from blink_reloaded_spark.functions.similarity import jaro_winkler_np

    a = pd.Series(["ab", "wxyz"])
    b_nul = pd.Series(["ab\x00x", "wxyz"])
    b_ref = pd.Series(["ab~x", "wxyz"])  # same shape, NUL -> unmatchable char
    got = jaro_winkler_np(a, b_nul)
    want = jaro_winkler_np(a, b_ref)
    assert got == pytest.approx(want)
    # NUL-vs-NUL strings: no real matches -> 0.0, not NaN/crash
    assert jaro_winkler_np(pd.Series(["\x00\x00"]), pd.Series(["\x00"]))[0] == 0.0


def test_id_shingle_hashes_dedup_keyed_on_resolved_fn(spark):
    """ADVICE r3: the distinct-vocabulary optimization must key on the
    RESOLVED hash function — passing poly_hash explicitly (the documented
    oracle-parity path) keeps the distinct+join shape; a native hash
    (xxhash64_mod) stays in-place."""
    from blink_reloaded_spark.functions import hashing

    df = spark.createDataFrame(
        [(1, ["ab", "bc", "ab"]), (2, ["bc"])], "id long, sh array<string>"
    )

    def has_join(d):
        return "Join" in d._jdf.queryExecution().optimizedPlan().toString()

    explicit = hashing.id_shingle_hashes(df, "id", F.col("sh"),
                                         hash_fn=hashing.poly_hash)
    default = hashing.id_shingle_hashes(df, "id", F.col("sh"))
    native = hashing.id_shingle_hashes(df, "id", F.col("sh"),
                                       hash_fn=hashing.xxhash64_mod)
    assert has_join(explicit) and has_join(default) and not has_join(native)
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, default.collect())
    )


def test_vectorized_embedding_kernels_match_column_forms(spark):
    """ADVICE r5: ann05/ann07's oracle-checked cosine and bucket ids come
    from numpy kernels (einsum / matmul) whose summation order is
    BLAS/numpy-version dependent, while DuckDB parity was established on
    the sequential JVM Column forms. Pin kernel == Column on the actual
    sf0.01 embeddings fixture, so an environment change fails loudly at
    the kernel instead of as an opaque driver oracle-hash mismatch."""
    from blink_reloaded_spark.functions import embedding as emb
    from blink_reloaded_spark.queries import (
        ANN_PLANES,
        ANN_TABLE_SEEDS,
        EMB_DIM,
    )
    from tests.conftest import SF_ORACLE

    v = spark.read.parquet(SF_ORACLE + "/embeddings.parquet")

    # rounded cosine: Column form (sequential aggregate sum) vs einsum UDF
    pairs = v.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    ).join(
        v.select((F.col("vec_id") - 1).alias("ia"), F.col("embedding").alias("vb")),
        "ia",
    )
    mism = (
        pairs.select(
            emb.cosine_similarity(F.col("va"), F.col("vb")).alias("c_col"),
            emb.cosine_similarity_fast(F.col("va"), F.col("vb")).alias("c_np"),
        )
        .where(F.col("c_col") != F.col("c_np"))
        .count()
    )
    assert mism == 0

    # all 16 table bucket ids: matmul+bit-pack UDF vs per-seed Column form
    bk = emb.hyperplane_buckets_udf(ANN_PLANES, EMB_DIM, ANN_TABLE_SEEDS)
    col_buckets = F.array(
        *[
            emb.hyperplane_bucket(F.col("embedding"), ANN_PLANES, EMB_DIM, seed=s)
            for s in ANN_TABLE_SEEDS
        ]
    )
    bad = (
        v.select(bk(F.col("embedding")).alias("k"), col_buckets.alias("c"))
        .where(F.col("k") != F.col("c"))
        .count()
    )
    assert bad == 0


def test_tree_cpu_seconds_counts_descendants():
    """procstat.tree_cpu_seconds must attribute a child process's CPU burn
    to the caller's tree (the basis of the core-steal-immune scaling metric
    in scripts/bench_scaling.py)."""
    import subprocess
    import sys

    from blink_reloaded_spark.procstat import tree_cpu_seconds

    c0 = tree_cpu_seconds()
    subprocess.run(
        [sys.executable, "-c", "x=0\nfor i in range(12_000_000): x+=i"],
        check=True,
    )
    delta = tree_cpu_seconds() - c0
    assert delta > 0.3, delta


def test_canaries_fixed_work_and_repeatable():
    """Both box-health canaries (the bench/scaling per-trial covariates)
    must return positive walls and be repeatable to well within the 1.5-2x
    swings they exist to detect — on whatever box this suite runs on."""
    from blink_reloaded_spark.procstat import canary_mt_seconds, canary_seconds

    for fn in (canary_seconds, canary_mt_seconds):
        for attempt in range(3):  # a real box transient IS a canary signal,
            a, b = fn(), fn()     # not a code defect — retry through it
            assert a > 0 and b > 0
            if max(a, b) / min(a, b) < 1.5:
                break
        else:
            raise AssertionError((fn.__name__, a, b))
