"""Extraction layer: length-adjusted ranks, keywords, summary, SVO top-k.

Relational re-expression of the reference's extraction stage
(/root/reference/textcrafts/deepRank.py:414-599 + runPagerank adjustment
:533-560). All top-k use the pinned deterministic total order
(rank DESC, kind, order-key) — see oracle/textgraph.py docstring for the
documented divergences from the reference's insertion-order ties.

Every operator is a window/row_number over per-conversation partitions —
Catalyst handles thousands-to-billions of conversations identically; no
driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CraftParams
from ..functions.predicates import (
    is_clean_sent_col,
    is_stop_col,
    maybe_word_col,
    node_order_key,
)


def sentence_lengths(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "conv_id", "sent_id", F.size("words").alias("sent_len")
    )


def adjusted_ranks(ranks: DataFrame, parsed: DataFrame) -> DataFrame:
    """Sentence-length penalty (deepRank.py:34-39,546-556, corrected loop):
    rank/(1 + log(1 + |len - avg_len|)) for sentence nodes."""
    lens = sentence_lengths(parsed)
    avg = lens.groupBy("conv_id").agg(F.avg("sent_len").alias("avg_len"))
    sl = lens.join(avg, "conv_id").select(
        "conv_id",
        F.col("sent_id").cast("string").alias("key"),
        F.lit("S").alias("kind"),
        "sent_len",
        "avg_len",
    )
    # only sentence nodes take the penalty: join just the S slice (one row
    # per turn) and union the untouched W slice back without shuffling it —
    # word nodes are the large majority of the rank table
    s_adj = (
        ranks.where(F.col("kind") == "S")
        # sl is fact-sized (one row per sentence): shuffle hash join keeps
        # the driver out of the build (see edges._resolved_deps note)
        .join(sl.hint("SHUFFLE_HASH"), ["conv_id", "kind", "key"], "left")
        .select(
            "conv_id",
            "kind",
            "key",
            F.when(
                F.col("sent_len").isNotNull(),
                F.col("rank")
                / (1.0 + F.log1p(F.abs(F.col("sent_len") - F.col("avg_len")))),
            )
            .otherwise(F.col("rank"))
            .alias("rank"),
        )
    )
    return s_adj.unionByName(
        ranks.where(F.col("kind") != "S").select("conv_id", "kind", "key", "rank")
    )


def giant_component_gate(
    ranks_adj: DataFrame,
    components: DataFrame,
    partition_cols=("conv_id",),
) -> DataFrame:
    """maxcc gate (deepRank.py:398-406 pagerank, :414-431 bestNodes):
    when giant_comp is enabled and a conversation's graph has FEWER than 4
    components, restrict extraction candidates to the largest component;
    conversations with >= 4 components pass through unchanged. The
    reference gates bestNodes only, so callers apply this to the keywords/
    summary inputs and leave scored_svos ungated (bestSVOs,
    deepRank.py:563-599, reads raw ranks).

    `components` is components_per_conv output (conv_id, kind, key,
    component) — WEAKLY connected components, the engine's documented
    divergence from the reference's strongly_connected_components
    (SURVEY §2.9); the pytest oracle applies the same weak-CC gate. Ties
    in component size break on the smaller component label so the gate is
    deterministic."""
    sizes = components.groupBy(*partition_cols, "component").agg(
        F.count("*").alias("csize")
    )
    w_rank = Window.partitionBy(*partition_cols).orderBy(
        F.desc("csize"), F.col("component")
    )
    w_all = Window.partitionBy(*partition_cols)
    giant = (
        sizes.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_comps", F.count("*").over(w_all))
        .where(F.col("rn") == 1)
        .select(*partition_cols, F.col("component").alias("giant"), "n_comps")
    )
    allowed = (
        components.join(giant, list(partition_cols))
        .where((F.col("n_comps") >= 4) | (F.col("component") == F.col("giant")))
        .select(*partition_cols, "kind", "key")
    )
    return ranks_adj.join(allowed, [*partition_cols, "kind", "key"], "leftsemi")


def _topk(df: DataFrame, k: int, partition_cols=("conv_id",)) -> DataFrame:
    # rank ties compare at 8 decimals — the precision the engine publishes
    # (and the DuckDB differential oracle reproduces). Comparing raw doubles
    # here would let ~1e-17 accumulation-order noise pick different rows for
    # mathematically tied nodes across engines.
    w = Window.partitionBy(*partition_cols).orderBy(
        F.desc(F.round("rank", 8)),
        F.col("kind"),
        node_order_key(F.col("kind"), F.col("key")),
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def keywords(
    ranks_adj: DataFrame,
    noun_set: DataFrame,
    k: int | None = None,
    params: CraftParams | None = None,
    partition_cols=("conv_id",),
) -> DataFrame:
    """bestWords (deepRank.py:504-516): ranked word nodes passing maybeWord,
    not stopwords, containing a noun from the document's noun_set."""
    p = params or CraftParams()
    k = k or p.word_count
    cand = ranks_adj.where(
        (F.col("kind") == "W")
        & maybe_word_col("key")
        & ~is_stop_col("key")
    )
    parts = cand.select(
        *partition_cols, "key", F.explode(F.split("key", " ")).alias("lemma")
    )
    with_noun = parts.join(noun_set, ["conv_id", "lemma"], "leftsemi").select(
        *partition_cols, "key"
    ).distinct()
    cand = cand.join(with_noun, [*partition_cols, "key"], "leftsemi")
    return _topk(cand, k, partition_cols).select(
        *partition_cols, F.col("key").alias("keyword"), "rank"
    )


def summary(
    ranks_adj: DataFrame,
    parsed: DataFrame,
    k: int | None = None,
    params: CraftParams | None = None,
    partition_cols=("conv_id",),
) -> DataFrame:
    """bestSentences (deepRank.py:438-463): top-k clean sentences by rank,
    returned with document-order sent ids (caller sorts by turn_idx)."""
    p = params or CraftParams()
    k = k or p.sent_count
    # clean filter applied on the parsed side BEFORE the shuffle: dirty
    # sentences never move, and the lemma arrays the filter reads are
    # consumed map-side instead of being shipped through the join
    clean = ranks_adj.where(F.col("kind") == "S").join(
        parsed.where(is_clean_sent_col("lemmas"))
        .select(
            "conv_id",
            F.col("sent_id").cast("string").alias("key"),
            F.concat_ws(" ", F.col("words")).alias("sent_text"),
            "sent_id",
        ).hint("SHUFFLE_HASH"),  # parsed is fact-sized: no driver broadcast
        ["conv_id", "key"],
    )
    return _topk(clean, k, partition_cols).select(
        *partition_cols,
        F.col("sent_id").alias("turn_idx"),
        F.col("sent_text"),
        "rank",
    )


def extend_svos_with_taxonomy(
    top_svos: DataFrame,
    ranks_adj: DataFrame,
    wn_rel: DataFrame,
    k: int | None = None,
    params: CraftParams | None = None,
) -> DataFrame:
    """WordNet-style SVO extension (extend_with_wn_links, deepRank.py:602-629):
    for each endpoint of the top-k SVOs, emit is_a / part_of relations to
    taxonomy neighbors, kept ONLY if the related lemma occurs in the
    document's rank table ("both ends occur in the document",
    pdfs/logrank.txt:313-319), self-pairs dropped (the morphy-inequality
    guard), deduped, top-k per conversation in deterministic order.

    -> (conv_id, subj, verb, obj, sent_id) rows with verb ∈ {is_a, part_of}.
    """
    p = params or CraftParams()
    k = k or p.rel_count
    ends = top_svos.select(
        "conv_id", F.col("subj").alias("w"), "sent_id"
    ).union(top_svos.select("conv_id", F.col("obj").alias("w"), "sent_id"))

    j = ends.join(F.broadcast(wn_rel), ends["w"] == wn_rel["lemma"])
    # direction per rel_type, mirroring the reference's 8 emit branches
    ext = j.select(
        "conv_id",
        F.when(F.col("rel_type").isin("holo", "hyper"), F.col("w"))
        .otherwise(F.col("related"))
        .alias("subj"),
        F.when(F.col("rel_type").isin("hyper", "hypo"), F.lit("is_a"))
        .otherwise(F.lit("part_of"))
        .alias("verb"),
        F.when(F.col("rel_type").isin("holo", "hyper"), F.col("related"))
        .otherwise(F.col("w"))
        .alias("obj"),
        "sent_id",
    ).where(F.col("subj") != F.col("obj"))
    # both ends must occur in the document (semi-join against word ranks)
    doc_words = ranks_adj.where(F.col("kind") == "W").select(
        "conv_id", F.col("key").alias("subj")
    )
    ext = ext.join(doc_words, ["conv_id", "subj"], "leftsemi")
    doc_words_o = ranks_adj.where(F.col("kind") == "W").select(
        "conv_id", F.col("key").alias("obj")
    )
    ext = ext.join(doc_words_o, ["conv_id", "obj"], "leftsemi").distinct()
    w = Window.partitionBy("conv_id").orderBy("subj", "verb", "obj", "sent_id")
    return ext.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    ).drop("rn")


def scored_svos(
    svo: DataFrame,
    ranks_adj: DataFrame,
    k: int | None = None,
    params: CraftParams | None = None,
    partition_cols=("conv_id",),
) -> DataFrame:
    """bestSVOs (deepRank.py:563-599, WordNet extension hook empty):
    score = (2*rank(subj) + rank(obj)) / 3, distinct, top-k."""
    p = params or CraftParams()
    k = k or p.rel_count
    rw = ranks_adj.where(F.col("kind") == "W")
    rs = rw.select("conv_id", F.col("key").alias("subj"), F.col("rank").alias("srank"))
    ro = rw.select("conv_id", F.col("key").alias("obj"), F.col("rank").alias("orank"))
    scored = (
        svo.join(rs, ["conv_id", "subj"])
        .join(ro, ["conv_id", "obj"])
        .where((F.col("srank") != 0) & (F.col("orank") != 0))
        .select(
            *partition_cols,
            "subj",
            "verb",
            "obj",
            "sent_id",
            ((2.0 * F.col("srank") + F.col("orank")) / 3.0).alias("score"),
        )
        .distinct()
    )
    # 8-decimal score ties, matching _topk's published-precision ordering
    w = Window.partitionBy(*partition_cols).orderBy(
        F.desc(F.round("score", 8)), "subj", "verb", "obj", "sent_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
