"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure Catalyst expressions over a text column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.predicates import in_list_sql
from ..wordlist import STOP_WORDS

_STOPS_SQL = in_list_sql(sorted(STOP_WORDS))

# tiny deterministic language profiles: characteristic high-frequency words
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
}


def tokens_col(text) -> F.Column:
    """Whitespace+punct tokenization as an expression (BPE-ish regex split)."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9']+"), lambda t: F.length(t) > 0
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, n_tokens, n_chars, avg_token_len)."""
    t = tokens_col(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        (
            F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
            / F.greatest(F.size(t), F.lit(1)).cast("double")
        ).alias("avg_token_len"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram/stopword-marker language ID: score = fraction of tokens in each
    language's marker list; argmax with 'und' fallback when all zero.
    -> (doc_id, lang_pred, lang_score)."""
    t = tokens_col(F.col(text_col)).alias("toks")
    base = docs.select(F.col(id_col), t)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        s = (
            F.expr(f"size(filter(toks, x -> x IN ({in_list_sql(markers)})))")
            / F.greatest(F.size("toks"), F.lit(1)).cast("double")
        ).alias(f"s_{lang}")
        scores.append(s)
    scored = base.select(id_col, *scores)
    structs = F.array(
        *[
            F.struct(F.col(f"s_{lang}").alias("score"), F.lit(lang).alias("lang"))
            for lang in _LANG_MARKERS
        ]
    )
    best = F.array_max(structs)
    return scored.select(
        id_col,
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["score"].alias("lang_score"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0,1]:
    length band, punctuation ratio, stopword ratio, alpha ratio.
    -> (doc_id, n_tokens, punct_ratio, stop_ratio, alpha_ratio, quality)."""
    txt = F.col(text_col)
    base = docs.select(id_col, text_col, tokens_col(txt).alias("__toks"))
    n_tok = F.size("__toks")
    n_chars = F.greatest(F.length(txt), F.lit(1))
    punct = (
        F.length(F.regexp_replace(txt, r"[^.,;:!?()\[\]\"']", "")) / n_chars.cast("double")
    )
    alpha = (
        F.length(F.regexp_replace(txt, r"[^A-Za-z]", "")) / n_chars.cast("double")
    )
    stops = (
        F.expr(f"size(filter(`__toks`, x -> x IN ({_STOPS_SQL})))")
        / F.greatest(n_tok, F.lit(1)).cast("double")
    )
    len_band = F.when((n_tok >= 10) & (n_tok <= 5000), 1.0).otherwise(
        F.when(n_tok > 0, 0.5).otherwise(0.0)
    )
    quality = (
        0.4 * len_band
        + 0.2 * F.least(F.lit(1.0), stops * 4.0)
        + 0.2 * alpha
        + 0.2 * (1.0 - F.least(F.lit(1.0), punct * 5.0))
    )
    return base.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(stops, 6).alias("stop_ratio"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Rolling/content-defined fingerprint: xor of shingle hashes — stable
    under shingle reordering, order-insensitive content signature.
    -> (doc_id, fp string)."""
    from .dedup import char_shingles

    sh = char_shingles(F.col(text_col), 8)
    fp = F.aggregate(
        F.transform(sh, lambda s: F.xxhash64(s)),
        F.lit(0).cast("long"),
        lambda acc, h: acc.bitwiseXOR(h),
    )
    return docs.select(F.col(id_col), F.conv(F.format_string("%d", fp), 10, 16).alias("fp"))


def sampled_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 3,
    mod: int = 16,
) -> DataFrame:
    """Mod-p sampled document fingerprint (Karp-Rabin / MOSS-style): hash
    every distinct token n-gram, retain hashes ≡ 0 (mod `mod`). The sample
    is content-defined — insensitive to document offset, robust to local
    edits — and two documents' fingerprint overlap estimates containment.
    Engine-portable hash (md5 hex -> int) so the DuckDB oracle matches
    bit-for-bit. -> exploded (doc_id, fp_hash) rows.
    """
    toks = tokens_col(F.col(text_col))
    grams = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(toks) - F.lit(gram_n - 1), F.lit(1))
            ),
            lambda i: F.concat_ws(" ", F.slice(toks, i, gram_n)),
        )
    )
    h = docs.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(
        id_col,
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("fp_hash"),
    )
    return h.where(F.pmod("fp_hash", F.lit(mod)) == 0).distinct()


# ---------------------------------------------------------------------------
# PII scrubbing (round 3) — training-corpus hygiene pass
# ---------------------------------------------------------------------------

# Patterns kept to the regex subset where Java (Spark) and RE2 (DuckDB)
# agree, so the operator is value-oracled: character classes, bounded
# repetition, alternation — no backrefs, no lookaround.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+[0-9][0-9\-]{7,14}[0-9]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
]


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (doc_id, redacted, n_redactions): text with emails / phone
    numbers / IPv4 literals replaced by <KIND> placeholders, plus the
    total number of replacements. Map-only expression pipeline (zero
    shuffle at any scale); redaction order is fixed (email, phone, ipv4)
    so placeholders are deterministic and engines agree byte-for-byte.
    """
    red = F.col(text_col)
    n = F.lit(0)
    for kind, pat in PII_PATTERNS:
        # count first (on the not-yet-redacted text for this kind), then
        # replace; earlier kinds' placeholders contain no matchable chars
        n = n + F.size(F.split(red, pat)) - 1
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return docs.select(
        F.col(id_col),
        red.alias("redacted"),
        n.cast("long").alias("n_redactions"),
    )


def tfidf_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (doc_id, term, tf, df, tfidf) — classic term salience
    (tf * ln(N/df)) over the shared tokenizer; the standard relevance
    feature corpus curation and keyword baselines build on.

    Scale shape: one explode + one (doc, term) count, one per-term
    document-frequency aggregate (map-side combined; its output is
    |vocab| rows and broadcasts back), and the corpus size N rides the
    plan as a broadcast 1-row frame — no driver-side collect, no window.
    Common terms are the hot join keys; the df side is pre-aggregated so
    the join carries one row per (doc, term), never a fan-out.
    """
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens_col(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("__id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = F.broadcast(
        docs.agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(ndocs)
        .select(
            F.col("__id").alias(id_col),
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k terms per document by (tfidf desc, term asc) — the term
    tie-break makes equal-score rows (same tf and df) deterministic.
    One ROW_NUMBER window partitioned by doc on top of tfidf_terms."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.col("term").asc()
    )
    return (
        tfidf_terms(docs, id_col, text_col)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def approx_corpus_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rsd: float = 0.02,
    quantiles: tuple = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """One-row sketch-based corpus profile — the approximate aggregates a
    100 TB profiling pass uses where exact ones need a wide shuffle:

    - approx_distinct_tokens: HyperLogLog++ (Spark approx_count_distinct,
      relative standard deviation `rsd`) over the exploded token stream —
      vocabulary size without materializing an exact distinct.
    - len_quantiles: Greenwald-Khanna percentile_approx of per-doc token
      counts at the requested quantiles (rank error <= 1/accuracy).
    - n_docs, total_tokens: exact (cheap partial aggregates) for context.

    Both sketch families are MERGEABLE partial aggregates (map-side
    combined, constant-size state per partition), so the whole profile is
    one scan + a 1-row reduce at any scale. Accuracy is pinned by
    differential tests against the exact aggregates on fixture data.
    """
    t = tokens_col(F.col(text_col))
    per_doc = docs.select(F.col(id_col), F.size(t).alias("n_tokens"))
    qlist = list(quantiles)
    base = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.percentile_approx(
            "n_tokens", F.array(*[F.lit(q) for q in qlist]), F.lit(accuracy)
        ).alias("len_quantiles"),
    )
    vocab = (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
        .agg(F.approx_count_distinct("tok", rsd).alias("approx_distinct_tokens"))
    )
    return base.crossJoin(F.broadcast(vocab))


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken 2003,
    the MOSS scheme): hash every token k-gram, slide a window of w
    hashes, select the RIGHTMOST minimal hash per window, dedup the
    selections. -> exploded (doc_id, pos, h), pos the 1-based k-gram
    position. Guarantee: any shared token run of >= w+k-1 tokens between
    two documents shares at least one selected hash — the local
    (position-robust) upgrade over mod-p sampling, whose selections a
    single unlucky edit can erase.

    Pure expressions end to end (transform/slice/array_min over in-row
    arrays — nothing leaves the row until the final explode), with the
    engine-portable md5-prefix hash so a SQL oracle reproduces the exact
    integers. Docs with fewer than k tokens yield no rows; docs with
    fewer than w k-grams use one window of all of them (their minimum),
    the standard short-input degeneration.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnowing: k and w must be >= 1, got k={k} w={w}")
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    hexp = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 15),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    d2 = docs.select(F.col(id_col), hexp.alias("hs"))
    m = F.size("hs")
    wl = F.least(F.lit(w), m)
    win = F.transform(
        F.sequence(F.lit(1), m - wl + 1),
        lambda j: F.struct(
            (
                j
                + wl
                - F.array_position(
                    F.reverse(F.slice(F.col("hs"), j, wl)),
                    F.array_min(F.slice(F.col("hs"), j, wl)),
                )
            )
            .cast("int")
            .alias("pos"),
            F.array_min(F.slice(F.col("hs"), j, wl)).alias("h"),
        ),
    )
    return (
        d2.where(m > 0)
        .select(F.col(id_col), F.explode(F.array_distinct(win)).alias("fp"))
        .select(F.col(id_col), F.col("fp.pos").alias("pos"), F.col("fp.h").alias("h"))
    )
