"""Edge generation: the reference's core flatMap as a Catalyst pipeline.

Re-expresses `edgesInSent` (/root/reference/textcrafts/deepRank.py:292-361),
`w2l` (:721-730), `make_noun_set` (:735-742) and `to_svo` (:754-772) as pure
DataFrame expressions: one explode of the deps array, two lemma-substitution
joins, one first-occurrence join, a when/otherwise rule cascade emitting an
edge-struct array, and one final explode. No Python UDFs anywhere.

Node encoding (replaces the reference's heterogeneous str|int nodes,
deepRank.py:225-226): kind 'S' (sentence/turn, key = str(sent_id)) or
'W' (lemma/phrase, key = lemma). All tables carry conv_id — the engine
processes every conversation's graph in the same dataflow, which is what
makes the design scale: 10^12 turns = ~10^10 independent small graphs moved
through a constant number of shuffles, all keyed by conv_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CraftParams
from ..functions.predicates import is_word_col

SENT_TAG = "SENT"


def tokens_table(parsed: DataFrame) -> DataFrame:
    """parsed -> tokens(conv_id, sent_id, pos, word, lemma, tag)."""
    z = F.arrays_zip(
        F.col("words").alias("word"),
        F.col("lemmas").alias("lemma"),
        F.col("tags").alias("tag"),
    )
    return parsed.select(
        "conv_id", "sent_id", F.posexplode(z).alias("pos", "tok")
    ).select(
        "conv_id",
        "sent_id",
        "pos",
        F.col("tok.word").alias("word"),
        F.col("tok.lemma").alias("lemma"),
        F.col("tok.tag").alias("tag"),
    )


def w2l_sentence(tokens: DataFrame) -> DataFrame:
    """Per-sentence word -> (lemma, tag), last occurrence wins
    (reference w2l dict overwrite, deepRank.py:721-730)."""
    return (
        tokens.where(F.length("word") > 0)
        .groupBy("conv_id", "sent_id", "word")
        .agg(
            F.max_by(F.struct("lemma", "tag"), F.col("pos")).alias("lt")
        )
        .select(
            "conv_id", "sent_id", "word",
            F.col("lt.lemma").alias("lemma"), F.col("lt.tag").alias("tag"),
        )
    )


def w2l_table(tokens: DataFrame) -> DataFrame:
    """Document-level distinct (word, lemma, tag) triples
    (words2lemmas, deepRank.py:745-749) — keyed by conv_id."""
    return w2l_sentence(tokens).select("conv_id", "word", "lemma", "tag").distinct()


def noun_set_table(tokens: DataFrame) -> DataFrame:
    """lemma -> first sentence id where it occurs with a noun tag
    (make_noun_set, deepRank.py:735-742)."""
    return (
        tokens.where(
            (F.length("lemma") > 0) & (F.substring("tag", 1, 1) == "N")
        )
        .groupBy("conv_id", "lemma")
        .agg(F.min("sent_id").alias("first_sent"))
    )


def _row_local_w2l() -> bool:
    import os

    return os.environ.get("DEEPRANK_W2L_JOINS", "0") != "1"


def _resolved_deps_row_local(parsed: DataFrame) -> DataFrame:
    """Row-local lemma substitution: the w2l map is per (conv_id, sent_id)
    and every dep of a sentence lives in the SAME parsed row as that
    sentence's token arrays, so the substitution never needs to leave the
    row — two array lookups (last occurrence of the word wins, the w2l
    dict-overwrite semantics) replace two shuffle joins over an exploded
    9M-token table. Per-row cost is O(|deps|·|tokens|) struct compares
    (~900 for a 30-token turn) inside one codegen stage; the joins it
    replaces were the largest fixed cost of the N->4N scaling job even
    as SHUFFLE_HASH."""
    toks = F.filter(
        F.arrays_zip(
            F.col("words").alias("w"),
            F.col("lemmas").alias("l"),
            F.col("tags").alias("t"),
        ),
        lambda e: F.length(e["w"]) > 0,
    )
    base = parsed.select(
        "conv_id",
        "sent_id",
        toks.alias("_toks"),
        F.posexplode("deps").alias("dep_idx", "d"),
    )

    def last_match(word):
        # dict-overwrite semantics == last token with this surface form
        return F.try_element_at(
            F.filter(F.col("_toks"), lambda e: e["w"] == word), F.lit(-1)
        )

    return (
        base.select(
            "conv_id",
            "sent_id",
            "dep_idx",
            F.col("d.fw").alias("fw"),
            F.col("d.rel").alias("rel"),
            F.col("d.tw").alias("tw"),
            last_match(F.col("d.fw")).alias("_f"),
            last_match(F.col("d.tw")).alias("_t"),
        )
        # inner-join semantics of the w2l probe: deps whose endpoint never
        # appears as a (non-empty) token in the sentence are dropped
        .where(F.col("_f").isNotNull() & F.col("_t").isNotNull())
        .select(
            "conv_id",
            "sent_id",
            "dep_idx",
            "fw",
            "rel",
            "tw",
            F.col("_f.l").alias("lfrom"),
            F.col("_f.t").alias("lftag"),
            F.col("_t.l").alias("lto"),
            F.col("_t.t").alias("lttag"),
        )
    )


def _resolved_deps(
    parsed: DataFrame, noun_set: DataFrame | None
) -> DataFrame:
    """Explode deps and substitute lemmas/tags through the per-sentence w2l
    map, then attach the first-occurrence sentence of the to-side lemma
    (one left join — the only genuinely cross-sentence step).

    The w2l map is ALWAYS the canonical per-sentence derivation of
    `parsed` itself — there is deliberately no override parameter: the
    row-local default computes it in-row, so a caller-supplied map could
    only be silently ignored (advisor finding, round 4; round 5 dropped
    the parameter rather than warn).

    Default: row-local substitution (no shuffle, see
    `_resolved_deps_row_local`). DEEPRANK_W2L_JOINS=1 restores the
    equi-join formulation (kept as the differential twin)."""
    if _row_local_w2l():
        r = _resolved_deps_row_local(parsed)
    else:
        w2l = w2l_sentence(tokens_table(parsed))
        deps = parsed.select(
            "conv_id", "sent_id", F.posexplode("deps").alias("dep_idx", "d")
        ).select(
            "conv_id",
            "sent_id",
            "dep_idx",
            F.col("d.fw").alias("fw"),
            F.col("d.rel").alias("rel"),
            F.col("d.tw").alias("tw"),
        )
        wf = w2l.select(
            "conv_id", "sent_id",
            F.col("word").alias("fw"),
            F.col("lemma").alias("lfrom"), F.col("tag").alias("lftag"),
        )
        wt = w2l.select(
            "conv_id", "sent_id",
            F.col("word").alias("tw"),
            F.col("lemma").alias("lto"), F.col("tag").alias("lttag"),
        )
        # SHUFFLE_HASH, not broadcast: w2l is FACT-sized (it scales with
        # the corpus — 5.5M rows at 30k convs), so the default
        # broadcast-under-threshold plan makes the DRIVER build
        # multimillion-entry hash relations single-threaded.
        r = deps.join(wf.hint("SHUFFLE_HASH"), ["conv_id", "sent_id", "fw"]).join(
            wt.hint("SHUFFLE_HASH"), ["conv_id", "sent_id", "tw"]
        )
    if noun_set is None:
        return r.withColumn("lto_first", F.lit(None).cast("int"))
    return r.join(
        noun_set.select(
            "conv_id", F.col("lemma").alias("lto"),
            F.col("first_sent").alias("lto_first"),
        ).hint("SHUFFLE_HASH"),
        ["conv_id", "lto"],
        "left",
    )


def _edge(src_kind, src, src_tag, rel, dst_kind, dst, dst_tag):
    return F.struct(
        src_kind.alias("src_kind"),
        src.alias("src"),
        src_tag.alias("src_tag"),
        rel.alias("rel"),
        dst_kind.alias("dst_kind"),
        dst.alias("dst"),
        dst_tag.alias("dst_tag"),
    )


def multi_edges_table(
    parsed: DataFrame,
    noun_set: DataFrame | None = None,
    params: CraftParams | None = None,
) -> DataFrame:
    """All emitted edges, one row per (edge, sentence) occurrence.

    Schema: (conv_id, src_kind, src, src_tag, rel, dst_kind, dst, dst_tag,
    sent_id). Rule cascade per resolved dep (deepRank.py:313-353):

      1. punct + '.'      -> sentence -predicate-> verb
      2. verb-subj/obj    -> verb->noun, sentence -about-> noun, first_in,
                             optional self-loop (+ SVO accumulation)
      3. other into noun  -> kept as-is, first_in, optional self-loop
      4. everything else  -> reversed, + word -recommends-> sentence
      5. noun-noun compound -> phrase fusion, parts -fused-> phrase

    first_in fires when this sentence is the lemma's first noun occurrence;
    a fused phrase contains a space and our tokenizer never produces
    space-bearing lemmas, so the reference's (always-miss) noun_set probe for
    compounds is statically false here (deepRank.py:350-351).
    """
    p = params or CraftParams()
    if noun_set is None:
        noun_set = noun_set_table(tokens_table(parsed))
    r = _resolved_deps(parsed, noun_set)

    W, S = F.lit("W"), F.lit("S")
    sent_key = F.col("sent_id").cast("string")
    sent_tag = F.lit(SENT_TAG)
    lfrom, lftag = F.col("lfrom"), F.col("lftag")
    lto, lttag = F.col("lto"), F.col("lttag")
    rel = F.col("rel")

    so = rel.contains("subj") | rel.contains("obj")
    vn = (F.substring(lftag, 1, 1) == "V") & (F.substring(lttag, 1, 1) == "N") & so
    to_noun = F.substring(lttag, 1, 1) == "N"
    is_punct_dot = (rel == "punct") & (lttag == ".")
    first_in_lto = F.lit(p.noun_defs) & (F.col("lto_first") == F.col("sent_id"))

    empty = F.array().cast(
        "array<struct<src_kind:string,src:string,src_tag:string,rel:string,"
        "dst_kind:string,dst:string,dst_tag:string>>"
    )

    def arr(*es):
        return F.array(*es)

    as_is = _edge(W, lfrom, lftag, rel, W, lto, lttag)
    sent_about = _edge(S, sent_key, sent_tag, F.lit("about"), W, lto, lttag)
    sent_pred = _edge(S, sent_key, sent_tag, F.lit("predicate"), W, lfrom, lftag)
    reversed_e = _edge(W, lto, lttag, rel, W, lfrom, lftag)
    recommends = _edge(W, lto, lttag, F.lit("recommends"), S, sent_key, sent_tag)
    first_in_e = _edge(W, lto, lttag, F.lit("first_in"), S, sent_key, sent_tag)
    self_e = _edge(W, lto, lttag, F.lit("self"), W, lto, lttag)

    first_in_arr = F.when(first_in_lto, arr(first_in_e)).otherwise(empty)
    self_arr = arr(self_e) if p.noun_self else empty
    rec_arr = arr(recommends) if p.all_recs else empty

    main = (
        F.when(is_punct_dot, arr(sent_pred))
        .when(vn, F.concat(arr(as_is, sent_about), first_in_arr, self_arr))
        .when(to_noun, F.concat(arr(as_is), first_in_arr, self_arr))
        .otherwise(F.concat(arr(reversed_e), rec_arr))
    )

    comp = F.concat_ws(" ", lto, lfrom)
    comp_cond = (
        (F.substring(lftag, 1, 1) == "N")
        & (F.substring(lttag, 1, 1) == "N")
        & (rel == "compound")
    )
    comp_edges = arr(
        _edge(W, lfrom, lftag, F.lit("fused"), W, comp, lftag),
        _edge(W, lto, lttag, F.lit("fused"), W, comp, lttag),
    )
    comp_self = (
        arr(_edge(W, comp, lttag, F.lit("self"), W, comp, lttag))
        if p.noun_self
        else empty
    )
    comp_arr = F.when(comp_cond, F.concat(comp_edges, comp_self)).otherwise(empty)

    exploded = r.select(
        "conv_id", "sent_id", F.explode(F.concat(main, comp_arr)).alias("e")
    )
    return exploded.select("conv_id", "e.*", "sent_id")


def edges_table(multi_edges: DataFrame) -> DataFrame:
    """Distinct 5-tuples per conversation (deepRank.py:368-370)."""
    return multi_edges.drop("sent_id").distinct()


def graph_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) pairs for the kernels: tags and rel dropped, deduped
    (graph build, deepRank.py:373-386)."""
    return edges.select(
        "conv_id", "src_kind", "src", "dst_kind", "dst"
    ).distinct()


def vertices_table(gedges: DataFrame) -> DataFrame:
    src = gedges.select("conv_id", F.col("src_kind").alias("kind"), F.col("src").alias("key"))
    dst = gedges.select("conv_id", F.col("dst_kind").alias("kind"), F.col("dst").alias("key"))
    return src.union(dst).distinct()


def svo_table(
    parsed: DataFrame,
    params: CraftParams | None = None,
) -> DataFrame:
    """SVO assembly (to_svo, deepRank.py:754-772).

    Candidates are verb->noun subj/obj deps with distinct lemmas and both
    lemmas passing isWord; per (sentence, verb) the LAST candidate in dep
    order wins each side (dict-overwrite semantics), then subj and obj sides
    equi-join on the shared verb.
    """
    r = _resolved_deps(parsed, None)
    so = F.col("rel").contains("subj") | F.col("rel").contains("obj")
    vn = (
        (F.substring("lftag", 1, 1) == "V")
        & (F.substring("lttag", 1, 1) == "N")
        & so
    )
    cands = r.where(
        vn
        & (F.col("lfrom") != F.col("lto"))
        & is_word_col("lfrom")
        & is_word_col("lto")
    )
    subj = (
        cands.where(F.col("rel").contains("subj"))
        .groupBy("conv_id", "sent_id", F.col("lfrom").alias("verb"), F.col("lftag").alias("vtag"))
        .agg(F.max_by(F.struct(F.col("lto"), F.col("lttag")), F.col("dep_idx")).alias("s"))
        .select(
            "conv_id", "sent_id", "verb", "vtag",
            F.col("s.lto").alias("subj"), F.col("s.lttag").alias("stag"),
        )
    )
    obj = (
        cands.where(
            ~F.col("rel").contains("subj") & F.col("rel").contains("obj")
        )
        .groupBy("conv_id", "sent_id", F.col("lfrom").alias("verb"), F.col("lftag").alias("vtag"))
        .agg(F.max_by(F.struct(F.col("lto"), F.col("lttag")), F.col("dep_idx")).alias("o"))
        .select(
            "conv_id", "sent_id", "verb", "vtag",
            F.col("o.lto").alias("obj"), F.col("o.lttag").alias("otag"),
        )
    )
    # fact-fact self-join: shuffle hash, not a driver-built broadcast
    return subj.join(obj.hint("SHUFFLE_HASH"), ["conv_id", "sent_id", "verb", "vtag"]).select(
        "conv_id", "subj", "stag", "verb", "vtag", "obj", "otag", "sent_id"
    )
