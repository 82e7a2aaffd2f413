"""DuckDB-dialect SQL snippet builders that mirror the Spark-side functions
bit-for-bit, generated from the SAME Python constants (PERMS, LANG_MARKERS,
stopword lists, hyperplanes) so the driver's oracle comparison checks real
parity, not coincidences.

Every builder documents which Spark function it mirrors; tests/test_oracle_
parity.py and scripts/check_oracle.py exercise the pairs side by side.
"""

from __future__ import annotations

from blink_reloaded_spark.functions.hashing import P, PERMS
from blink_reloaded_spark.functions.text import (
    LANG_MARKERS,
    QUALITY_STOPWORDS,
)


def sql_norm(e: str) -> str:
    """Mirror of text.normalize_text (note: DuckDB needs the 'g' flag)."""
    return f"lower(trim(regexp_replace({e}, '\\s+', ' ', 'g')))"


def sql_tokens(e: str) -> str:
    """Mirror of text.tokens."""
    return (
        f"list_filter(string_split_regex({sql_norm(e)}, '[^a-z0-9]+'), t -> t != '')"
    )


def sql_char_shingles(e: str, k: int, distinct: bool = True) -> str:
    """Mirror of text.char_shingles: k-grams of the normalized string."""
    s = sql_norm(e)
    sh = (
        f"list_transform(generate_series(1, greatest(len({s}) - {k - 1}, 1)),"
        f" i -> substr({s}, i, {k}))"
    )
    return f"list_distinct({sh})" if distinct else sh


def sql_poly_hash(e: str) -> str:
    """Mirror of hashing.poly_hash: (acc*31 + ascii(ch)) % P over chars."""
    codes = f"list_transform(regexp_extract_all({e}, '[\\s\\S]'), c -> ascii(c)::BIGINT)"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}),"
        f" (a, b) -> (a*31 + b) % {P})"
    )


def sql_minhash(e_shingles: str, i: int) -> str:
    """Mirror of hashing.minhash_sig_table column mh{i}: min over shingles
    of perm_i(poly)."""
    a, b = PERMS[i]
    return (
        f"coalesce(list_min(list_transform({e_shingles},"
        f" s -> ({a}*({sql_poly_hash('s')}) + {b}) % {P})), {P})"
    )


def sql_band_key(e_shingles: str, band: int, rows: int) -> str:
    """Mirror of the `band`-th block_key of hashing.band_keys_from_sig_table."""
    parts = ", ".join(
        f"CAST({sql_minhash(e_shingles, band * rows + r)} AS VARCHAR)"
        for r in range(rows)
    )
    if rows == 1:
        joined = parts
    else:
        joined = f"concat_ws('_', {parts})"
    return f"concat('{band}', '|', {joined})"


def sql_simhash(e_tokens: str, nbits: int = 32) -> str:
    """Mirror of hashing.simhash64 (portable variant)."""
    hashes = f"list_transform({e_tokens}, s -> {sql_poly_hash('s')})"
    terms = []
    for j in range(nbits):
        a, b = PERMS[j]
        cnt = (
            f"len(list_filter({hashes}, h -> (({a}*h + {b}) % {P}) % 2 = 1))"
        )
        terms.append(
            f"(CASE WHEN {cnt}*2 > len({hashes}) THEN CAST({1 << j} AS BIGINT)"
            f" ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def sql_rolling_fingerprint(e: str) -> str:
    """Mirror of text.rolling_fingerprint (normalizes first)."""
    return sql_poly_hash(sql_norm(e))


def sql_word_count(e: str) -> str:
    return f"CAST(len({sql_tokens(e)}) AS BIGINT)"


def sql_bpe_count(e: str) -> str:
    """Mirror of text.bpe_ish_token_count."""
    return (
        f"CAST(len(regexp_extract_all({sql_norm(e)},"
        f" '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)"
    )


def _sql_str_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def sql_lang_id(e: str) -> str:
    """Mirror of text.lang_id_col: argmax of stopword hits, asc-lang ties."""
    toks = sql_tokens(e)
    scores = {
        lang: f"len(list_filter({toks}, t -> list_contains({_sql_str_list(ws)}, t)))"
        for lang, ws in sorted(LANG_MARKERS.items())
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n".join(
        f"WHEN {scores[lang]} > 0 AND {scores[lang]} = {best} THEN '{lang}'"
        for lang in sorted(scores)
    )
    return f"(CASE {whens} ELSE 'und' END)"


def sql_quality_cols(e: str) -> dict[str, str]:
    """Mirror of text.quality_score_cols."""
    s = sql_norm(e)
    toks = sql_tokens(e)
    n_tok = f"len({toks})"
    n_stop = (
        f"len(list_filter({toks},"
        f" t -> list_contains({_sql_str_list(QUALITY_STOPWORDS)}, t)))"
    )
    n_chars = f"len({s})"
    n_punct = f"len(regexp_extract_all({s}, '[^a-z0-9 ]'))"
    tok_len_sum = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform({toks}, t -> len(t)::BIGINT)), (a, b) -> a + b)"
    )
    return {
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST({n_tok} AS BIGINT)",
        "punct_ratio": f"round({n_punct} / greatest({n_chars}, 1), 6)",
        "stopword_ratio": f"round({n_stop} / greatest({n_tok}, 1), 6)",
        "avg_token_len": f"round({tok_len_sum} / greatest({n_tok}, 1), 6)",
    }


def sql_levenshtein_sim(a: str, b: str) -> str:
    """Mirror of similarity.levenshtein_sim."""
    return (
        f"round(1.0 - levenshtein({a}, {b}) /"
        f" CAST(greatest(len({a}), len({b}), 1) AS DOUBLE), 6)"
    )


def sql_jaro_winkler(a: str, b: str) -> str:
    """DuckDB built-in; similarity.jaro_winkler_udf matches it exactly
    (verified on 10k random pairs, tests/test_oracle_parity.py)."""
    return f"round(jaro_winkler_similarity({a}, {b}), 6)"


def sql_dot(a: str, b: str) -> str:
    """Mirror of embedding.dot_product (double, sequential)."""
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def sql_cosine(a: str, b: str) -> str:
    """Mirror of embedding.cosine_similarity."""
    return (
        f"round({sql_dot(a, b)} / greatest(sqrt({sql_dot(a, a)}) *"
        f" sqrt({sql_dot(b, b)}), 1e-12), 6)"
    )


def sql_hyperplane_bucket(e: str, planes) -> str:
    """Mirror of embedding.hyperplane_bucket with literal plane arrays."""
    terms = []
    for j, row in enumerate(planes):
        arr = "[" + ", ".join(repr(float(w)) for w in row) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({e} AS DOUBLE[]), {arr}) > 0"
            f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"
