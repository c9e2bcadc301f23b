"""Query engine: personalized rerank + shared-token matching.

Entry point C of the reference (/root/reference/deep_talk/query.py:95-127),
re-expressed relationally:

1. digest the query texts through the SAME parse/edge pipeline as documents
2. PageRank each query graph -> personalization vector (word nodes passing
   maybeWord and not stopwords; pers_dict, deepRank.py:713-717)
3. rerank each (conversation x query) pair: the document graph re-ranked
   with the query's personalization vector (rerank, deepRank.py:408-411)
4. shared = query tokens ∩ document tokens (left-semi join, query.py:103-107)
5. good sentence ids = sentences where a shared token occurs as an edge
   endpoint (query.py:109-115)
6. answers = top max_answers clean good sentences by reranked order, minus
   the document's summary sentences unless that empties the set
   (query.py:117-122)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CraftParams, TalkParams
from ..functions.predicates import is_clean_sent_col, is_stop_col, maybe_word_col, node_order_key
from ..parse import parse_transcripts
from .edges import edges_table, graph_edges, multi_edges_table
from .extract import sentence_lengths
from .pagerank import pagerank_per_conv

_QSEP = "\x1f"


def expand_quest_memory(queries: DataFrame, talk: TalkParams | None = None) -> DataFrame:
    """Dialog memory window — process_quest (qpro.py:125-134): the digested
    question text is the concatenation, NEWEST FIRST, of the last
    `quest_memory` distinct questions of the conversation so far, each
    suffixed with ' '; re-asking a question moves it to the most-recent
    slot instead of duplicating it. quest_memory=1 (the reference default)
    keeps only the current question, so the expansion is the identity and
    this returns the input unchanged.

    Relational form: for query i, every prior question's LAST occurrence
    index <= i ranks the memory (max_by + row_number); dialog histories
    are short, so the bounded per-conversation self-join is cheap and
    stays fully distributed (no per-conv collect)."""
    t = talk or TalkParams()
    k = t.quest_memory
    if k <= 1:
        return queries
    cur = queries.select("conv_id", F.col("q_idx").alias("i"))
    hist = queries.select(
        "conv_id", F.col("q_idx").alias("j"), F.col("text").alias("jtext")
    )
    last_occ = (
        cur.join(hist, "conv_id")
        .where(F.col("j") <= F.col("i"))
        .groupBy("conv_id", "i", "jtext")
        .agg(F.max("j").alias("last_occ"))
    )
    w = Window.partitionBy("conv_id", "i").orderBy(F.desc("last_occ"))
    mem = (
        last_occ.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("conv_id", "i")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct((-F.col("last_occ")).alias("o"), F.col("jtext").alias("t")))
                    ),
                    lambda s: F.concat(s["t"], F.lit(" ")),
                ),
            ).alias("text")
        )
    )
    return mem.select("conv_id", F.col("i").alias("q_idx"), "text")


def _digest_queries(queries: DataFrame, params: CraftParams):
    """queries(conv_id, q_idx, text) -> (qparsed, q multi_edges, q gedges)
    with qkey = conv_id + sep + q_idx as the grouping conversation id.

    The parse and the edge cascade are each consumed by several downstream
    branches (personalization, shared tokens, q_edges, q_svo); eager
    localCheckpoint so the Arrow parse UDF runs once AND downstream actions
    analyze shallow plans (same lineage-truncation seam as engine.digest)."""
    q = queries.select(
        F.concat_ws(_QSEP, "conv_id", F.col("q_idx").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    qparsed = parse_transcripts(q).localCheckpoint(eager=True)
    qmulti = multi_edges_table(qparsed, params=params).localCheckpoint(eager=True)
    return qparsed, qmulti, graph_edges(edges_table(qmulti))


def personalization_vectors(
    queries: DataFrame,
    params: CraftParams | None = None,
    qged: DataFrame | None = None,
) -> DataFrame:
    """-> (conv_id, q_idx, kind, key, weight): query word-node ranks.

    Pass `qged` (pre-digested query graph edges) when the caller already ran
    _digest_queries — avoids digesting the query texts a second time."""
    p = params or CraftParams()
    if qged is None:
        _, _, qged = _digest_queries(queries, p)
    qranks = pagerank_per_conv(qged, alpha=p.damping, tol=p.tol, max_iter=p.max_iter)
    pers = qranks.where(
        (F.col("kind") == "W")
        & maybe_word_col("key")
        & ~is_stop_col("key")
    )
    return pers.select(
        F.split_part(F.col("conv_id"), F.lit(_QSEP), F.lit(1)).alias("conv_id"),
        F.split_part(F.col("conv_id"), F.lit(_QSEP), F.lit(2)).cast("int").alias("q_idx"),
        "kind",
        "key",
        F.col("rank").alias("weight"),
    )


def rerank_for_queries(
    gedges: DataFrame,
    pers: DataFrame,
    params: CraftParams | None = None,
) -> DataFrame:
    """Personalized rerank per (conv_id, q_idx): the document edge set is
    replicated per query (composite graph key) and PageRanked with that
    query's personalization vector. -> (conv_id, q_idx, kind, key, rank)."""
    p = params or CraftParams()
    qs = pers.select("conv_id", "q_idx").distinct()
    ged2 = gedges.join(qs, "conv_id").select(
        F.concat_ws(_QSEP, "conv_id", F.col("q_idx").cast("string")).alias("conv_id"),
        "src_kind", "src", "dst_kind", "dst",
    )
    pers2 = pers.select(
        F.concat_ws(_QSEP, "conv_id", F.col("q_idx").cast("string")).alias("conv_id"),
        "kind", "key", "weight",
    )
    rr = pagerank_per_conv(
        ged2, pers=pers2, alpha=p.damping, tol=p.tol, max_iter=p.max_iter
    )
    return rr.select(
        F.split_part(F.col("conv_id"), F.lit(_QSEP), F.lit(1)).alias("conv_id"),
        F.split_part(F.col("conv_id"), F.lit(_QSEP), F.lit(2)).cast("int").alias("q_idx"),
        "kind",
        "key",
        "rank",
    )


def token_sentences(multi_edges: DataFrame) -> DataFrame:
    """Inverted index as a plain table (replaces query.py:45-65 dicts):
    every word endpoint occurrence -> (conv_id, token, sent_id)."""
    src = multi_edges.where(F.col("src_kind") == "W").select(
        "conv_id", F.col("src").alias("token"), "sent_id"
    )
    dst = multi_edges.where(F.col("dst_kind") == "W").select(
        "conv_id", F.col("dst").alias("token"), "sent_id"
    )
    return src.union(dst).distinct()


def answer_queries(
    parsed: DataFrame,
    multi_edges: DataFrame,
    gedges: DataFrame,
    queries: DataFrame,
    params: CraftParams | None = None,
    talk: TalkParams | None = None,
) -> DataFrame:
    """Full entry-point-C pipeline.

    -> answers(conv_id, q_idx, turn_idx, sent_text) in document order.
    """
    p = params or CraftParams()
    t = talk or TalkParams()

    queries = expand_quest_memory(queries, t)
    _, qmulti, qged = _digest_queries(queries, p)
    pers = personalization_vectors(queries, p, qged=qged).localCheckpoint(eager=True)
    # the reranked graph feeds both the answer window and the summary
    # window — checkpoint so the per-(conv, query) PageRank runs once
    rr = rerank_for_queries(gedges, pers, p).localCheckpoint(eager=True)
    # length adjustment needs (conv_id) keyed sentence lengths; rr carries q_idx
    lens = sentence_lengths(parsed)
    avg = lens.groupBy("conv_id").agg(F.avg("sent_len").alias("avg_len"))
    sl = lens.join(avg, "conv_id").select(
        "conv_id", F.col("sent_id").cast("string").alias("key"),
        F.lit("S").alias("kind"), "sent_len", "avg_len",
    )
    rr = rr.join(sl, ["conv_id", "kind", "key"], "left").select(
        "conv_id", "q_idx", "kind", "key",
        F.when(
            (F.col("kind") == "S") & F.col("sent_len").isNotNull(),
            F.col("rank") / (1.0 + F.log1p(F.abs(F.col("sent_len") - F.col("avg_len")))),
        ).otherwise(F.col("rank")).alias("rank"),
    )

    # shared tokens: query word endpoints ∩ doc word endpoints (filtered)
    q_tokens = (
        qmulti.select("conv_id", "src_kind", F.col("src").alias("token"))
        .where(F.col("src_kind") == "W")
        .union(
            qmulti.select("conv_id", "dst_kind", F.col("dst").alias("token"))
            .where(F.col("dst_kind") == "W")
        )
        .select("conv_id", "token")
        .distinct()
        .select(
            F.split_part(F.col("conv_id"), F.lit(_QSEP), F.lit(1)).alias("conv_id"),
            F.split_part(F.col("conv_id"), F.lit(_QSEP), F.lit(2)).cast("int").alias("q_idx"),
            "token",
        )
        .where(maybe_word_col("token") & ~is_stop_col("token"))
    )
    doc_tok_sents = token_sentences(multi_edges)
    good = (
        q_tokens.join(doc_tok_sents, ["conv_id", "token"])
        .select("conv_id", "q_idx", "sent_id")
        .distinct()
    )

    # candidate answers: clean good sentences by reranked order
    sents = rr.where(F.col("kind") == "S").join(
        parsed.select(
            "conv_id", F.col("sent_id").cast("string").alias("key"), "lemmas",
            F.concat_ws(" ", "words").alias("sent_text"), "sent_id",
        ),
        ["conv_id", "key"],
    ).where(is_clean_sent_col("lemmas")).persist()
    cands = sents.join(good, ["conv_id", "q_idx", "sent_id"], "leftsemi")
    # rank ties compare at the published 8-decimal precision (see
    # extract._topk) so engine and differential oracles order identically
    w = Window.partitionBy("conv_id", "q_idx").orderBy(
        F.desc(F.round("rank", 8)),
        F.col("kind"),
        node_order_key(F.col("kind"), F.col("key")),
    )
    answers = cands.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= t.max_answers
    )

    # summary of the reranked document (sent_count top clean sentences)
    wsum = Window.partitionBy("conv_id", "q_idx").orderBy(
        F.desc(F.round("rank", 8)),
        F.col("kind"),
        node_order_key(F.col("kind"), F.col("key")),
    )
    summ = (
        sents.withColumn("rn", F.row_number().over(wsum))
        .where(F.col("rn") <= p.sent_count)
        .select("conv_id", "q_idx", "sent_id")
        .withColumn("in_summary", F.lit(True))
    )
    ans = answers.join(summ, ["conv_id", "q_idx", "sent_id"], "left")
    wq = Window.partitionBy("conv_id", "q_idx")
    ans = ans.withColumn(
        "n_outside",
        F.sum(F.when(F.col("in_summary").isNull(), 1).otherwise(0)).over(wq),
    ).where((F.col("n_outside") == 0) | F.col("in_summary").isNull())
    return ans.select("conv_id", "q_idx", F.col("sent_id").alias("turn_idx"), "sent_text")
