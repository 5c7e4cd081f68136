"""Text-analysis column expressions (SURVEY section 2.11 X5): token counting,
quality scoring, language-ID heuristic, fingerprinting.

Everything here is a pure built-in-function composition (JVM-side,
whole-stage-codegen) -- no Python UDFs. Each expression is embarrassingly
parallel per row: at 100 TB these run at scan speed with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopword sets for the n-gram-free language-ID heuristic. Scoring by
# marker-token overlap is deliberately simple and SQL-portable so the DuckDB
# oracle can replicate it exactly.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a", "in"),
    "es": ("el", "la", "de", "que", "y", "en"),
    "fr": ("le", "la", "de", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "nicht", "ist"),
}

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")

FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space separated corpora)."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column | str, pattern: str = "[a-z]+|[0-9]+") -> Column:
    """BPE-ish regex token count: runs of letters / digits as atoms."""
    col = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def marker_score(text: Column | str, markers: tuple[str, ...]) -> Column:
    """Count of tokens belonging to a marker set."""
    return F.size(F.filter(tokens(text), lambda t: t.isin(*markers)))


def lang_guess(text: Column | str) -> Column:
    """Language-ID heuristic: argmax of marker-set overlap, 'und' when no
    marker hits. Ties broken by fixed language order (en > es > fr > de)."""
    scores = {lang: marker_score(text, m) for lang, m in LANG_MARKERS.items()}
    best = F.lit("und")
    best_score = F.lit(0)
    # Iterate in reverse priority so earlier langs win ties via >=.
    for lang in reversed(list(LANG_MARKERS)):
        s = scores[lang]
        cond = (s > 0) & (s >= best_score)
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def quality_score(text: Column | str, n_chars: Column | str | None = None) -> Column:
    """Composite document quality score in [0, 1]: rewards mid-length docs,
    penalizes very short ones and stopword-free token soup. Deterministic
    integer/double arithmetic only."""
    t = F.col(text) if isinstance(text, str) else text
    n = token_count(t).cast("double")
    length_component = F.least(n / F.lit(200.0), F.lit(1.0))
    stop = marker_score(t, STOPWORDS).cast("double")
    stop_component = F.least(stop / F.greatest(n * F.lit(0.05), F.lit(1.0)), F.lit(1.0))
    return F.round(F.lit(0.5) * length_component + F.lit(0.5) * stop_component, 6).cast(
        "decimal(18,6)"
    )


def quality_score_ppm(text: Column | str) -> Column:
    """quality_score as a FLOOR(x * 1e6) BIGINT -- the engine-portable
    form (ROUND on doubles hits half-even/half-up ties across engines;
    floor of identical IEEE operands never does)."""
    t = F.col(text) if isinstance(text, str) else text
    n = token_count(t).cast("double")
    length_component = F.least(n / F.lit(200.0), F.lit(1.0))
    stop = marker_score(t, STOPWORDS).cast("double")
    stop_component = F.least(stop / F.greatest(n * F.lit(0.05), F.lit(1.0)), F.lit(1.0))
    score = F.lit(0.5) * length_component + F.lit(0.5) * stop_component
    return F.floor(score * F.lit(1_000_000.0)).cast("bigint")


def doc_fingerprint(text: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over tokens, mod a prime.

    Portable across engines (plain integer arithmetic, no engine hash
    functions): token -> len(token)*17 + ascii(first char), folded as
    acc = (acc*31 + v) % FINGERPRINT_MOD.
    """
    vals = F.transform(
        tokens(text),
        lambda tok: (F.length(tok) * 17 + F.ascii(F.substring(tok, 1, 1))).cast("long"),
    )
    return F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % FINGERPRINT_MOD,
    )


def simhash_token_hashes(text: Column | str) -> Column:
    """xxhash64 of each distinct whitespace token -- stage THIS as its own
    projection before folding votes: the 64 bit-votes each reference the
    hash array, and an inlined transform would re-tokenize and re-hash the
    document 64 times (measured 5.7x slower at sf0.1)."""
    return F.transform(F.array_distinct(tokens(text)), lambda t: F.xxhash64(t))


def simhash_votes(hashes: Column) -> Column:
    """Fold the 64 per-bit majority votes over a (pre-staged) token-hash
    array column into the SimHash value."""

    def bit_vote(mask):
        def fold(acc, h):
            return acc + F.when(
                h.bitwiseAND(mask) != F.lit(0).cast("long"), 1
            ).otherwise(-1)

        return fold

    out = F.lit(0).cast("long")
    for idx in range(64):
        mask = F.expr(f"shiftleft(1L, {idx})")
        vote = F.aggregate(hashes, F.lit(0).cast("long"), bit_vote(mask))
        out = out.bitwiseOR(F.when(vote > 0, mask).otherwise(F.lit(0).cast("long")))
    return out


# ---------------------------------------------------------------------------
# PII detection / redaction (corpus-prep hygiene pass)
# ---------------------------------------------------------------------------
# Patterns restricted to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle): character classes, bounded repetition,
# word boundaries. No backrefs or lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"


def pii_count(text: Column | str, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern`` (full-match group 0 --
    Spark defaults to group 1 when the pattern contains groups, so the index
    is always explicit). Per-row expression, JVM-side."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def pii_redact(text: Column | str) -> Column:
    """Replace every email / IPv4 / phone match with a typed placeholder.
    Chained regexp_replace (global in both Spark and DuckDB-with-'g');
    email runs first so an address is never half-eaten by the phone rule."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_RE, "<IP>")
    c = F.regexp_replace(c, PHONE_RE, "<PHONE>")
    return c


def token_diversity(text: Column | str) -> Column:
    """Per-document token-distribution diversity metrics as a struct of
    exact integers -- zero shuffle, pure higher-order functions (the
    explode + groupBy(doc, token) alternative shuffles every token at
    corpus scale; per-row D x N work on ~100-token documents is cheaper
    and stays inside whole-stage codegen):

    - n_tokens, distinct_tokens
    - ttr_ppm        : type-token ratio * 1e6 (lexical diversity)
    - gini_ppm       : Gini impurity of the token distribution * 1e6
                       (1 - sum p_i^2; rational, so exact in int64 --
                       entropy would need transcendental log)
    - top_share_ppm  : most-frequent-token share * 1e6 (repetition signal)
    """
    toks = tokens(text)
    uniq = F.array_distinct(toks)
    counts = F.transform(
        uniq, lambda u: F.size(F.filter(toks, lambda x: x == u)).cast("long")
    )
    n = F.size(toks).cast("long")
    d = F.size(uniq).cast("long")
    sum_sq = F.aggregate(counts, F.lit(0).cast("long"), lambda acc, c: acc + c * c)
    top = F.array_max(counts)
    return F.struct(
        n.alias("n_tokens"),
        d.alias("distinct_tokens"),
        F.floor((d * 1_000_000) / n).cast("long").alias("ttr_ppm"),
        (F.lit(1_000_000) - F.floor((sum_sq * 1_000_000) / (n * n)))
        .cast("long")
        .alias("gini_ppm"),
        F.floor((top * 1_000_000) / n).cast("long").alias("top_share_ppm"),
    )


def _token_val(tok: Column) -> Column:
    """Portable per-token value (same as doc_fingerprint): engine-neutral
    integer arithmetic, no engine hash functions."""
    return (F.length(tok) * 17 + F.ascii(F.substring(tok, 1, 1))).cast("long")


def winnow_fingerprints(df, text_col: str, k: int = 5, w: int = 4, out_col: str = "fingerprints"):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003): hash every k-gram of tokens with a portable polynomial rolling
    hash, slide a window of w consecutive k-gram hashes, keep the minimum
    of each window, return the sorted distinct selection as ``out_col``.

    Guarantees: any shared token run of length >= k + w - 1 between two
    documents yields at least one shared fingerprint, at ~1/w storage of
    full k-gram shingling. Pure per-row array expressions -- no shuffle;
    overlap detection is then a bucket join on the exploded output.

    DataFrame-level on purpose: each stage (token values -> k-gram hashes
    -> window minima) is materialized as its own projection. Inlining them
    into one Column re-evaluates the gram construction once per window and
    the token hash once per gram -- measured 38x slower at sf0.1 (99 s ->
    2.6 s for 5,000 docs). CollapseProject keeps the stages separate
    because duplicating higher-order expressions is not considered cheap.
    """
    empty = F.expr("array()").cast("array<bigint>")
    d = df.withColumn("__wn_vals", F.transform(tokens(F.col(text_col)), _token_val))
    n_grams = F.size("__wn_vals") - (k - 1)
    # sequence(1, n) with n < 1 silently DESCENDS ([1, 0]) -- guard required
    d = d.withColumn(
        "__wn_grams",
        F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                lambda i: F.aggregate(
                    F.slice("__wn_vals", i, k),
                    F.lit(0).cast("long"),
                    lambda acc, v: (acc * 31 + v) % FINGERPRINT_MOD,
                ),
            ),
        ).otherwise(empty),
    )
    n_windows = F.size("__wn_grams") - (w - 1)
    d = d.withColumn(
        "__wn_mins",
        F.when(
            n_windows >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
                lambda i: F.array_min(F.slice("__wn_grams", i, w)),
            ),
        # short docs (fewer than w k-grams): fall back to all k-gram hashes
        ).otherwise(F.col("__wn_grams")),
    )
    return d.withColumn(
        out_col, F.array_sort(F.array_distinct("__wn_mins"))
    ).drop("__wn_vals", "__wn_grams", "__wn_mins")


def winnow_exploded(
    df, id_col: str, text_col: str, k: int = 5, w: int = 4
):
    """(id, fp) rows -- one per selected fingerprint. ALWAYS use this (not
    a manual explode of winnow_fingerprints) when feeding joins or
    aggregations: it materializes the slim fingerprint table before the
    explode, because a Generate input collapses the staged winnow
    projections back into one expression tree and re-amplifies the array
    work ~75x (measured 186 s -> 2.5 s on 50k docs, local[32])."""
    fped = winnow_fingerprints(df, text_col, k=k, w=w)
    slim = fped.select(F.col(id_col).alias("id"), "fingerprints").localCheckpoint()
    return slim.select(
        F.col("id").alias(id_col), F.explode("fingerprints").alias("fp")
    )


def token_diversity_frame(df, id_col: str, text_col: str):
    """DataFrame-level token_diversity: stages toks/uniq/counts as their
    own projections so the nested filter doesn't re-split the document per
    distinct token (4x faster at sf0.1 than the single-Column form; same
    values, asserted by the oracle). Returns (id_col, n_tokens,
    distinct_tokens, ttr_ppm, gini_ppm, top_share_ppm)."""
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__td_toks"))
    d = d.withColumn("__td_uniq", F.array_distinct("__td_toks"))
    d = d.withColumn(
        "__td_counts",
        F.transform(
            "__td_uniq",
            lambda u: F.size(F.filter("__td_toks", lambda x: x == u)).cast("long"),
        ),
    )
    n = F.size("__td_toks").cast("long")
    dd = F.size("__td_uniq").cast("long")
    sum_sq = F.aggregate(
        "__td_counts", F.lit(0).cast("long"), lambda a, c: a + c * c
    )
    top = F.array_max("__td_counts")
    return d.select(
        F.col(id_col),
        n.alias("n_tokens"),
        dd.alias("distinct_tokens"),
        F.floor((dd * 1_000_000) / n).cast("long").alias("ttr_ppm"),
        (F.lit(1_000_000) - F.floor((sum_sq * 1_000_000) / (n * n)))
        .cast("long")
        .alias("gini_ppm"),
        F.floor((top * 1_000_000) / n).cast("long").alias("top_share_ppm"),
    )


NFC_PROFILE_SCHEMA = (
    "doc_id long, raw_chars int, nfc_chars int, changed boolean,"
    " nfc_md5 string"
)


def unicode_nfc_profile(
    docs, id_col: str = "doc_id", text_col: str = "decorated"
):
    """REAL Unicode NFC normalization (UAX #15) via Python's unicodedata,
    Arrow-batched over mapInPandas -- Spark has no normalization builtin,
    so this is the sanctioned Python-vectorized route (same posture as
    the x4 codecs). Emits per-doc code-point counts before/after, a
    changed flag, and the md5 of the normalized UTF-8 bytes, so the
    DuckDB oracle (its independent ICU-backed nfc_normalize) verifies
    the ENTIRE normalized string byte-for-byte -- two unrelated Unicode
    implementations must agree on every composition."""
    import hashlib
    import unicodedata
    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "doc_id": [], "raw_chars": [], "nfc_chars": [],
                "changed": [], "nfc_md5": [],
            }
            for did, s in zip(pdf[id_col], pdf[text_col]):
                out["doc_id"].append(did)
                if s is None:  # NULL text -> NULL profile (r10 NULL tier:
                    # matches SQL propagation -- length(NULL)/md5(NULL)
                    # are NULL in both engines)
                    out["raw_chars"].append(None)
                    out["nfc_chars"].append(None)
                    out["changed"].append(None)
                    out["nfc_md5"].append(None)
                    continue
                n = unicodedata.normalize("NFC", s)
                out["raw_chars"].append(len(s))
                out["nfc_chars"].append(len(n))
                out["changed"].append(n != s)
                out["nfc_md5"].append(hashlib.md5(n.encode("utf-8")).hexdigest())
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema=NFC_PROFILE_SCHEMA)
