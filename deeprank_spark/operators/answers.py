"""Four-matcher dialog answer engine (the reference's Prolog search path).

Re-expresses `search_answer0/2`'s four matchers + `freqsort` vote counting +
`apply_rank` scoring (/root/reference/deep_talk/qpro.pro:195-236,332-363,
380-423,439-475) as one relational dataflow over the fact tables:

- ner   (J12, qpro.pro:380-423): the query contains a wh-word → sentences
  holding an NER tag of the matching class AND sharing ≥1 good-tag query
  word. Wh-class map adapted to the engine's deterministic NER tags
  (who→NAME, many/when→NUMBER); on a cluster with model NER the map is the
  reference's CoreNLP class list — it's a broadcast dimension either way.
- relevant (A6, qpro.pro:210-236): top-60 query terms by rank (query words
  + taxonomy expansions); sentences sharing ≥2 terms (over words ∪ lemmas)
  scored L·ΣR.
- edges (J10, qpro.pro:139-155): query edges theta-matched against doc
  edges — equi on the dst endpoint, src equality lifted (wildcarded) when
  the src is a wh-word: an equi+residual join.
- svo   (J13, qpro.pro:439-475): bounded ≤K-step reachability over the
  undirected svo relation starting from query keys; sentences on the path
  that share ≥1 key with the query.

Votes: each matcher emits distinct (conv_id, q_idx, sent_id); `freqsort` =
groupBy count. Final order: votes desc, then personalized-rank score desc
(apply_rank analog), pinned ties. All per-(conv, query) — thousands of
dialogs batch through the same dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CraftParams, TalkParams
from ..functions.predicates import is_stop_col, maybe_word_col

def four_matcher_answers(
    parsed: DataFrame,
    multi_edges: DataFrame,
    gedges: DataFrame,
    svo: DataFrame,
    ner: DataFrame,
    queries: DataFrame,
    params: CraftParams | None = None,
    talk: TalkParams | None = None,
) -> DataFrame:
    """End-to-end §3.2-stage-4 path: digest queries, personalize-rerank the
    doc graphs, expand query terms through the taxonomy dimension, run the
    four matchers, vote, score. queries: (conv_id, q_idx, text)."""
    from ..functions.taxonomy import wn_rel_table
    from ..functions.wordsim import word_sim_table
    from .query import (
        _digest_queries,
        expand_quest_memory,
        personalization_vectors,
        rerank_for_queries,
    )

    p = params or CraftParams()
    queries = expand_quest_memory(queries, talk)
    qparsed, qmulti, _qged = _digest_queries(queries, p)
    qsep = qparsed.select(
        F.split_part(F.col("conv_id"), F.lit("\x1f"), F.lit(1)).alias("conv_id"),
        F.split_part(F.col("conv_id"), F.lit("\x1f"), F.lit(2)).cast("int").alias("q_idx"),
        "words", "lemmas", "tags", "deps",
    )
    pers = personalization_vectors(queries, p, qged=_qged).localCheckpoint(eager=True)
    # rr feeds the sim expansion, the sentence scorer, and (via answer_votes)
    # the final window — checkpoint so the reranked per-(conv, query)
    # PageRank kernel runs once and downstream plans stay shallow (same
    # lineage-truncation seam as engine.digest)
    rr = rerank_for_queries(gedges, pers, p).localCheckpoint(eager=True)

    # expanded_query_rank analog (qpro.pro:210-215 + :278-311): query word
    # ranks, plus taxonomy-related lemmas at the same rank (joint-occurrence
    # filtering happens downstream via the sentence join)
    q_words = pers.select(
        "conv_id", "q_idx", F.col("key").alias("term"), F.col("weight").alias("r")
    )
    wn = wn_rel_table(parsed.sparkSession)
    q_exp = q_words.join(
        F.broadcast(wn), q_words["term"] == wn["lemma"]
    ).select("conv_id", "q_idx", F.col("related").alias("term"), "r")
    # query_sim expansion (qpro.pro:91-95 via sims_to_prolog,
    # qpro.py:264-274): doc lemmas similar to a query lemma under the
    # wup+overlap scorer (>0.7) join in with rank R_query * rank_doc —
    # rank(W,RR) requires W ranked in this (conv, query) graph, hence the
    # join against the personalized rerank.
    sim_tbl = word_sim_table(parsed.sparkSession)
    rr_w = rr.where(F.col("kind") == "W").select(
        "conv_id", "q_idx", F.col("key").alias("doc_term"), F.col("rank").alias("rr")
    )
    q_sim = (
        q_words.join(F.broadcast(sim_tbl), q_words["term"] == sim_tbl["lemma_a"])
        .join(
            rr_w,
            (F.col("lemma_b") == F.col("doc_term"))
            & (q_words["conv_id"] == rr_w["conv_id"])
            & (q_words["q_idx"] == rr_w["q_idx"]),
        )
        .select(
            q_words["conv_id"],
            q_words["q_idx"],
            F.col("doc_term").alias("term"),
            (F.col("r") * F.col("rr")).alias("r"),
        )
    )
    q_terms = q_words.union(q_exp).union(q_sim).groupBy(
        "conv_id", "q_idx", "term"
    ).agg(F.max("r").alias("r"))

    q_edges = qmulti.where(
        (F.col("src_kind") == "W") & (F.col("dst_kind") == "W")
    ).select(
        F.split_part(F.col("conv_id"), F.lit("\x1f"), F.lit(1)).alias("conv_id"),
        F.split_part(F.col("conv_id"), F.lit("\x1f"), F.lit(2)).cast("int").alias("q_idx"),
        "src", "dst",
    )

    # query_svo for the reference's 4-way wildcard matcher (J11)
    from .edges import svo_table

    q_svo = svo_table(qparsed, params=p).select(
        F.split_part(F.col("conv_id"), F.lit("\x1f"), F.lit(1)).alias("conv_id"),
        F.split_part(F.col("conv_id"), F.lit("\x1f"), F.lit(2)).cast("int").alias("q_idx"),
        "subj", "verb", "obj",
    ).distinct()

    return answer_votes(
        parsed, multi_edges.where(
            (F.col("src_kind") == "W") & (F.col("dst_kind") == "W")
        ).select("conv_id", "src", "dst", "sent_id"),
        svo, ner, qsep, q_terms, q_edges, rr, p, talk, q_svo=q_svo,
    )


WH_CLASS = {
    "who": ["NAME"],
    "many": ["NUMBER"],
    "when": ["NUMBER"],
    "where": ["NAME"],
}


def _good_tag(tag_col) -> F.Column:
    return F.substring(tag_col, 1, 1).isin("N", "V", "J")


def match_ners(q_tokens: DataFrame, ner: DataFrame, sent_tokens: DataFrame) -> DataFrame:
    """J12. q_tokens: (conv_id, q_idx, word, lemma, tag)."""
    wh_rows = [(w, c) for w, cs in WH_CLASS.items() for c in cs]
    spark = q_tokens.sparkSession
    wh_map = spark.createDataFrame(wh_rows, "wh string, ner_class string")
    wh_in_q = q_tokens.join(
        F.broadcast(wh_map), F.lower(q_tokens["lemma"]) == wh_map["wh"]
    ).select("conv_id", "q_idx", "ner_class").distinct()

    ner_sents = ner.join(
        wh_in_q.withColumnRenamed("ner_class", "ner_tag"),
        ["conv_id", "ner_tag"],
    ).select("conv_id", "q_idx", "sent_id")

    good_q = q_tokens.where(_good_tag(F.col("tag"))).select(
        "conv_id", "q_idx", F.col("word").alias("tok")
    )
    shared = good_q.join(sent_tokens, ["conv_id", "tok"]).select(
        "conv_id", "q_idx", "sent_id"
    )
    return ner_sents.join(shared, ["conv_id", "q_idx", "sent_id"], "leftsemi").distinct()


def match_relevant(
    q_terms_ranked: DataFrame, sent_tokens: DataFrame, top_terms: int = 60
) -> DataFrame:
    """A6. q_terms_ranked: (conv_id, q_idx, term, r). Sentences sharing >=2
    of the top-`top_terms` terms, scored L * sum(R)."""
    w = Window.partitionBy("conv_id", "q_idx").orderBy(F.desc("r"), "term")
    top = q_terms_ranked.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= top_terms
    )
    hits = top.join(
        sent_tokens.withColumnRenamed("tok", "term"), ["conv_id", "term"]
    )
    scored = hits.groupBy("conv_id", "q_idx", "sent_id").agg(
        F.countDistinct("term").alias("l"), F.sum("r").alias("r0")
    ).where(F.col("l") >= 2)
    return scored.select(
        "conv_id", "q_idx", "sent_id", (F.col("l") * F.col("r0")).alias("rel_score")
    )


def match_edges(q_edges: DataFrame, doc_edges: DataFrame) -> DataFrame:
    """J10: equi on dst, src lifted when it is a wh-word (equi+residual)."""
    q = q_edges.select(
        "conv_id", "q_idx",
        F.col("src").alias("q_src"), F.col("dst").alias("q_dst"),
        F.lower(F.col("src")).isin(*WH_CLASS.keys()).alias("wh_src"),
    )
    d = doc_edges.select(
        "conv_id", F.col("src").alias("d_src"), F.col("dst").alias("d_dst"),
        "sent_id",
    )
    j = q.join(d, (q["conv_id"] == d["conv_id"]) & (q["q_dst"] == d["d_dst"]))
    matched = j.where(F.col("wh_src") | (F.col("q_src") == F.col("d_src")))
    return matched.select(q["conv_id"], "q_idx", "sent_id").distinct()


def match_svo_4way(
    q_svo: DataFrame, q_keys: DataFrame, svo: DataFrame
) -> DataFrame:
    """J11 — the reference's exact match_svo (qpro.pro:117-133), both
    clauses, as equi-joins:

    1. each query SVO (S,V,O) matches doc sentences whose svo agrees on
       at least TWO of the three slots: exact (S,V,O), drop-V (S,_,O),
       drop-O (S,V,_), drop-S (_,V,O). The reference lists four goals;
       the exact goal is subsumed by any of the three 2-slot joins, so
       three equi-joins realize the same match set — cheaper and tighter
       than the ≤K closure (which remains available as
       match_svo_closure / J13);
    2. each good-tag focus word W matches sentences where W is the subject
       or the object of any doc svo.

    q_svo: (conv_id, q_idx, subj, verb, obj); q_keys: (conv_id, q_idx, key).
    -> distinct (conv_id, q_idx, sent_id).
    """
    d = svo.select("conv_id", "subj", "verb", "obj", "sent_id")
    out = None
    for keys in (["subj", "obj"], ["subj", "verb"], ["verb", "obj"]):
        m = q_svo.join(d, ["conv_id", *keys]).select("conv_id", "q_idx", "sent_id")
        out = m if out is None else out.union(m)
    w_subj = q_keys.join(
        d.select("conv_id", F.col("subj").alias("key"), "sent_id"),
        ["conv_id", "key"],
    ).select("conv_id", "q_idx", "sent_id")
    w_obj = q_keys.join(
        d.select("conv_id", F.col("obj").alias("key"), "sent_id"),
        ["conv_id", "key"],
    ).select("conv_id", "q_idx", "sent_id")
    return out.union(w_subj).union(w_obj).distinct()


def match_svo_closure(
    q_keys: DataFrame, svo: DataFrame, sent_tokens: DataFrame, k: int = 2
) -> DataFrame:
    """J13: frontier ⋈ undirected-svo, K steps; path sentences that share
    >=1 query key. q_keys: (conv_id, q_idx, key)."""
    und = svo.select(
        "conv_id", F.col("subj").alias("a"), F.col("obj").alias("b"), "sent_id"
    ).union(
        svo.select("conv_id", F.col("obj").alias("a"), F.col("subj").alias("b"), "sent_id")
    )
    frontier = q_keys.select("conv_id", "q_idx", F.col("key").alias("a"))
    reached = None
    for _ in range(k):
        step = frontier.join(und, ["conv_id", "a"]).select(
            "conv_id", "q_idx", F.col("b").alias("a"), "sent_id"
        )
        sents = step.select("conv_id", "q_idx", "sent_id")
        reached = sents if reached is None else reached.union(sents)
        frontier = step.select("conv_id", "q_idx", "a").distinct()
    if reached is None:
        return q_keys.select("conv_id", "q_idx").limit(0).withColumn(
            "sent_id", F.lit(0)
        )
    reached = reached.distinct()
    shares = q_keys.select("conv_id", "q_idx", F.col("key").alias("tok")).join(
        sent_tokens, ["conv_id", "tok"]
    ).select("conv_id", "q_idx", "sent_id").distinct()
    return reached.join(shares, ["conv_id", "q_idx", "sent_id"], "leftsemi")


def answer_votes(
    parsed: DataFrame,
    multi_edges: DataFrame,
    svo: DataFrame,
    ner: DataFrame,
    q_parsed: DataFrame,
    q_terms_ranked: DataFrame,
    q_edges: DataFrame,
    rr: DataFrame,
    params: CraftParams | None = None,
    talk: TalkParams | None = None,
    q_svo: DataFrame | None = None,
) -> DataFrame:
    """Union of the four matchers -> vote count -> rank-scored answers.

    rr: personalized reranked ranks (conv_id, q_idx, kind, key, rank).
    With q_svo (conv_id, q_idx, subj, verb, obj) the svo matcher is the
    reference's exact 4-way wildcard match (J11, match_svo_4way); without
    it, the bounded-closure over-approximation (J13) is used.
    -> (conv_id, q_idx, sent_id, votes, score) top max_answers per query.
    """
    t = talk or TalkParams()

    sent_tokens = parsed.select(
        "conv_id", "sent_id",
        F.explode(F.array_union("words", "lemmas")).alias("tok"),
    ).distinct()

    q_tokens = q_parsed.select(
        "conv_id", "q_idx",
        F.explode(
            F.arrays_zip(
                F.col("words").alias("word"),
                F.col("lemmas").alias("lemma"),
                F.col("tags").alias("tag"),
            )
        ).alias("z"),
    ).select(
        "conv_id", "q_idx",
        F.col("z.word").alias("word"),
        F.col("z.lemma").alias("lemma"),
        F.col("z.tag").alias("tag"),
    )
    q_keys = q_tokens.where(
        maybe_word_col("lemma") & ~is_stop_col("lemma")
        & _good_tag(F.col("tag"))
    ).select("conv_id", "q_idx", F.col("lemma").alias("key")).distinct()

    m_ner = match_ners(q_tokens, ner, sent_tokens).withColumn("algo", F.lit("ner"))
    m_rel = match_relevant(q_terms_ranked, sent_tokens).select(
        "conv_id", "q_idx", "sent_id"
    ).withColumn("algo", F.lit("relevant"))
    m_edge = match_edges(q_edges, multi_edges).withColumn("algo", F.lit("edges"))
    if q_svo is not None:
        m_svo = match_svo_4way(q_svo, q_keys, svo).withColumn("algo", F.lit("svo"))
    else:
        m_svo = match_svo_closure(q_keys, svo, sent_tokens).withColumn(
            "algo", F.lit("svo")
        )

    votes = (
        m_ner.union(m_rel).union(m_edge).union(m_svo)
        .distinct()  # one vote per (sentence, matcher)
        .groupBy("conv_id", "q_idx", "sent_id")
        .agg(F.count("*").alias("votes"))
    )

    # apply_rank analog (qpro.pro:175-193): personalized sentence rank and
    # a length penalty; short or '?'-bearing sentences effectively sink.
    sent_info = parsed.select(
        "conv_id", F.col("sent_id"),
        F.size("words").alias("slen"),
        F.array_contains("words", "?").alias("has_q"),
    )
    r_sent = rr.where(F.col("kind") == "S").select(
        "conv_id", "q_idx", F.col("key").cast("int").alias("sent_id"),
        F.col("rank").alias("r0"),
    )
    scored = (
        votes.join(r_sent, ["conv_id", "q_idx", "sent_id"], "left")
        .join(sent_info, ["conv_id", "sent_id"], "left")
        .select(
            "conv_id", "q_idx", "sent_id", "votes",
            (
                F.exp(F.coalesce(F.col("r0"), F.lit(0.0)) * F.col("votes"))
                * F.log1p(
                    1.0
                    / F.when(
                        (F.col("slen") < 4) | F.col("has_q"), F.lit(1000.0)
                    ).otherwise(F.col("slen").cast("double"))
                )
            ).alias("score"),
        )
    )
    # score ties compare at the published 8-decimal precision (see
    # extract._topk) so engine and differential oracles order identically
    w = Window.partitionBy("conv_id", "q_idx").orderBy(
        F.desc("votes"), F.desc(F.round("score", 8)), "sent_id"
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= t.max_answers
    ).drop("rn")
