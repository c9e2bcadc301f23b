"""DuckDB SQL generator mirroring the parse -> edges -> per-conv CC path.

Generates ONE (large) ANSI-ish SQL string that recomputes, from the raw
`documents` table, exactly what the engine computes for dr_components:

    documents -> 12-token turn chunks (-> __spark_entry__._docs_as_transcripts)
              -> tokenize / tag / lemmatize (nlp/simple_parser.py — the
                 sequential prev-tag tagger becomes a recursive CTE over
                 token positions)
              -> dependency set (parse_sentence's rule cascade re-derived
                 as window predicates; dep ORDER is irrelevant here because
                 everything downstream of gedges is set-distinct)
              -> w2l resolution + edgesInSent rule cascade
                 (operators/edges.py:multi_edges_table)
              -> distinct graph edges -> per-conversation weakly-connected
                 components with min-token labels (components_per_conv).

This gives the driver's DuckDB gate an INDEPENDENT implementation of the
whole text-graph structure pipeline (different engine, different paradigm,
same deterministic spec). Word lists and tag sets are interpolated from
the same Python constants the engine uses, so the spec cannot drift.

Scope: exactly the default CraftParams path the dr_* contract queries
exercise (all_recs=True, noun_defs=True, noun_self=False).

Round 2 extends the structural pipeline with a RECURSIVE per-conversation
PageRank (`_pr_ctes`) that mirrors pagerank._power_iteration's exact
floating-point schedule — x0 uniform, dangling-mass redistribution,
L1 `n*tol` convergence checked per conversation, each conversation
stopping at its own iteration — which is what lets the float-ranked
flagship outputs (dr_keywords / dr_summary / dr_relations /
dr_line_graph) carry full DuckDB value oracles instead of rows-only
checks. Verified: ranks match numpy to ~4e-17 (test_oracle_sqlgen.py).

DuckDB 1.0 gotcha encoded below: inside a WITH RECURSIVE block, ANY
cte body of the form `A UNION B` is parsed as base/recursive-step pair
and loses the cross-branch dedupe. Every set-union that needs DISTINCT
is therefore written `SELECT DISTINCT ... FROM (A UNION ALL B)`.
"""

from __future__ import annotations

from ..nlp.simple_parser import (
    AUX_MAP,
    BE_MAP,
    CC_SET,
    DT_SET,
    IN_SET,
    MD_SET,
    PRP_SET,
    VERB_SET,
    WH_SET,
)
from ..wordlist import GEN_ADJS, GEN_NAMES

TURN_TOKENS = 12  # __spark_entry__._docs_as_transcripts
# the apostrophe is doubled: this string is interpolated into a
# single-quoted SQL literal
TOKEN_SQL_RE = r"[A-Za-z][A-Za-z0-9''\-]*|[0-9]+|[.,!?;:]"
NOUNISH = ("NN", "NNS", "NNP", "PRP")


def _inlist(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in sorted(values))


def _tag_case(tok: str, prev: str, is_first: str) -> str:
    """SQL mirror of simple_parser._tag_one — same rule order."""
    low = f"lower({tok})"
    be_aux = set(BE_MAP) | set(AUX_MAP)
    return f"""CASE
      WHEN {tok} IN ('.', '!', '?') THEN '.'
      WHEN {tok} = ',' THEN ','
      WHEN {tok} IN (';', ':') THEN ':'
      WHEN {low} IN ({_inlist(DT_SET)}) THEN 'DT'
      WHEN {low} IN ({_inlist(IN_SET)}) THEN 'IN'
      WHEN {low} IN ({_inlist(PRP_SET)}) THEN 'PRP'
      WHEN {low} IN ({_inlist(CC_SET)}) THEN 'CC'
      WHEN {low} IN ({_inlist(WH_SET)}) THEN 'WP'
      WHEN {low} IN ({_inlist(MD_SET)}) THEN 'MD'
      WHEN {low} IN ({_inlist(be_aux)}) THEN 'VBZ'
      WHEN substr({tok}, 1, 1) BETWEEN '0' AND '9' THEN 'CD'
      WHEN {low} IN ({_inlist(GEN_ADJS)}) THEN 'JJ'
      WHEN {low} IN ({_inlist(VERB_SET)}) THEN 'VBZ'
      WHEN {low} LIKE '%ly' THEN 'RB'
      WHEN {low} LIKE '%ing' AND length({low}) > 5 THEN 'VBG'
      WHEN {low} LIKE '%ed' AND length({low}) > 4 THEN 'VBN'
      WHEN {low} LIKE '%s' AND {low} NOT LIKE '%ss'
           AND {prev} IN ({_inlist(NOUNISH)}) THEN 'VBZ'
      WHEN substr({tok}, 1, 1) BETWEEN 'A' AND 'Z'
           AND (NOT {is_first} OR {low} IN ({_inlist(n.lower() for n in GEN_NAMES)}))
           THEN 'NNP'
      WHEN {low} LIKE '%s' AND {low} NOT LIKE '%ss' THEN 'NNS'
      ELSE 'NN' END"""


def _lemma_case(tok: str, tag: str) -> str:
    """SQL mirror of simple_parser.lemma_of — same rule order."""
    low = f"lower({tok})"
    return f"""CASE
      WHEN {low} IN ({_inlist(BE_MAP)}) THEN 'be'
      WHEN {low} IN ('has', 'had', 'have') THEN 'have'
      WHEN {low} IN ('does', 'did', 'do') THEN 'do'
      WHEN {tag} = 'NNP' THEN {tok}
      WHEN {tag} IN ('VBZ', 'NNS') AND {low} LIKE '%s' AND {low} NOT LIKE '%ss'
           AND length({low}) > 3 THEN substr({low}, 1, length({low}) - 1)
      WHEN {tag} = 'VBG' AND {low} LIKE '%ing' AND length({low}) > 5
           THEN substr({low}, 1, length({low}) - 3)
      WHEN {tag} IN ('VBN', 'VBD') AND {low} LIKE '%ed' AND length({low}) > 4
           THEN substr({low}, 1, length({low}) - 2)
      ELSE {low} END"""


def _pipeline_ctes(
    doc_filter: str = "", q: str = "", turn_sql: str | None = None
) -> str:
    """CTE chain from a turn source through the distinct graph-edge set
    (`{q}gedge`) plus the per-sentence edge table (`{q}medge`).

    doc_filter: optional WHERE clause on documents (default turn source).
    q: CTE-name prefix, so the pipeline can be instantiated twice in one
       statement (document side `q=''` + query side `q='q_'` for the
       entry-point-C oracle). Column names are never prefixed.
    turn_sql: optional replacement body for the `{q}turn` CTE — any SELECT
       yielding (conv_id, sent_id, text) — used to feed query texts through
       the SAME tokenizer/tagger/linker mirror the documents go through.
    """
    nounish = _inlist(NOUNISH)
    nn3 = _inlist(("NN", "NNS", "NNP"))
    tag_expr = _tag_case("tk.word", "tg.tag", "(tk.pos = 1)")
    tag_base = _tag_case("word", "''", "(pos = 1)")
    lemma_expr = _lemma_case("word", "tag")
    if turn_sql is None:
        turn_block = f"""
-- A. documents -> 12-token turn chunks (= _docs_as_transcripts)
{q}doc AS MATERIALIZED (
  SELECT 'd' || CAST(doc_id AS VARCHAR) AS conv_id,
         string_split(text, ' ') AS toks,
         CAST(ceil(len(string_split(text, ' ')) / {TURN_TOKENS}.0) AS INT) AS n_chunks
  FROM documents {doc_filter}
),
{q}turn AS MATERIALIZED (
  SELECT conv_id, CAST(r.c AS INT) AS sent_id,
         array_to_string(list_slice(toks, r.c * {TURN_TOKENS} + 1,
                                    (r.c + 1) * {TURN_TOKENS}), ' ') AS text
  FROM {q}doc, UNNEST(range(0, n_chunks)) AS r(c)
),"""
    else:
        turn_block = f"""
{q}turn AS MATERIALIZED ({turn_sql}),"""
    return f"""
WITH RECURSIVE{turn_block}
-- B. tokenize (TOKEN_RE) with 1-based positions
{q}tok AS MATERIALIZED (
  SELECT conv_id, sent_id, CAST(r.p AS INT) AS pos,
         ws[CAST(r.p AS INT)] AS word
  FROM (SELECT conv_id, sent_id, regexp_extract_all(text, '{TOKEN_SQL_RE}') AS ws
        FROM {q}turn),
       UNNEST(range(1, len(ws) + 1)) AS r(p)
),
-- C. sequential tagger: prev-tag dependence -> recursion over positions
{q}tg AS (
  SELECT conv_id, sent_id, pos, word, {tag_base} AS tag
  FROM {q}tok WHERE pos = 1
  UNION ALL
  SELECT tk.conv_id, tk.sent_id, tk.pos, tk.word, {tag_expr} AS tag
  FROM {q}tg tg JOIN {q}tok tk
    ON tk.conv_id = tg.conv_id AND tk.sent_id = tg.sent_id
   AND tk.pos = tg.pos + 1
),
{q}tk AS MATERIALIZED (
  SELECT conv_id, sent_id, pos, word, tag, {lemma_expr} AS lemma FROM {q}tg
),
-- D. per-sentence word->(lemma,tag), last occurrence wins (w2l_sentence)
{q}w2l AS MATERIALIZED (
  SELECT conv_id, sent_id, word,
         max_by(lemma, pos) AS lemma, max_by(tag, pos) AS tag
  FROM {q}tk WHERE length(word) > 0
  GROUP BY conv_id, sent_id, word
),
-- E. lemma -> first noun-occurrence sentence (noun_set_table)
{q}noun_set AS MATERIALIZED (
  SELECT conv_id, lemma, MIN(sent_id) AS first_sent
  FROM {q}tk WHERE length(lemma) > 0 AND substr(tag, 1, 1) = 'N'
  GROUP BY conv_id, lemma
),
-- F. dependency structure (parse_sentence) as window predicates.
--    Only the SET of (from_pos, rel, to_pos) matters downstream.
{q}root AS MATERIALIZED (
  SELECT conv_id, sent_id,
         COALESCE(MIN(pos) FILTER (WHERE tag LIKE 'V%'),
                  MIN(pos) FILTER (WHERE tag IN ({nounish})), 1) AS root
  FROM {q}tk GROUP BY conv_id, sent_id
),
{q}subj AS MATERIALIZED (
  SELECT t.conv_id, t.sent_id, MAX(t.pos) AS subj
  FROM {q}tk t JOIN {q}root r ON t.conv_id = r.conv_id AND t.sent_id = r.sent_id
  WHERE t.pos < r.root AND t.tag IN ({nounish})
  GROUP BY t.conv_id, t.sent_id
),
{q}comp_pair AS MATERIALIZED (
  SELECT a.conv_id, a.sent_id, a.pos AS a_pos, b.pos AS b_pos
  FROM {q}tk a JOIN {q}tk b ON a.conv_id = b.conv_id AND a.sent_id = b.sent_id
   AND b.pos = a.pos + 1
  WHERE a.tag IN ({nn3}) AND b.tag IN ({nn3})
),
-- post-root eligible nouns: nounish, beyond root, not a compound-left
{q}elig AS MATERIALIZED (
  SELECT t.conv_id, t.sent_id, t.pos, r.root
  FROM {q}tk t JOIN {q}root r ON t.conv_id = r.conv_id AND t.sent_id = r.sent_id
  WHERE t.pos > r.root AND t.tag IN ({nounish})
    AND NOT EXISTS (SELECT 1 FROM {q}comp_pair c
                    WHERE c.conv_id = t.conv_id AND c.sent_id = t.sent_id
                      AND c.a_pos = t.pos)
),
-- pending preposition per eligible noun: latest IN after the previous
-- eligible noun (the loop's prep register: set at IN, cleared on use)
{q}elig2 AS MATERIALIZED (
  SELECT e.conv_id, e.sent_id, e.pos, e.root,
         (SELECT MAX(i.pos) FROM {q}tk i
          WHERE i.conv_id = e.conv_id AND i.sent_id = e.sent_id
            AND i.tag = 'IN' AND i.pos > e.root AND i.pos < e.pos
            AND i.pos > COALESCE((SELECT MAX(e2.pos) FROM {q}elig e2
                                  WHERE e2.conv_id = e.conv_id
                                    AND e2.sent_id = e.sent_id
                                    AND e2.pos < e.pos), e.root)
         ) AS pending_in
  FROM {q}elig e
),
{q}dobj AS MATERIALIZED (
  SELECT conv_id, sent_id, MIN(pos) AS pos
  FROM {q}elig2 WHERE pending_in IS NULL
  GROUP BY conv_id, sent_id
),
-- DT/JJ/RB attach forward to the nearest noun-ish token
{q}mods AS MATERIALIZED (
  SELECT t.conv_id, t.sent_id, t.pos, t.tag,
         (SELECT MIN(n.pos) FROM {q}tk n
          WHERE n.conv_id = t.conv_id AND n.sent_id = t.sent_id
            AND n.pos > t.pos AND n.tag IN ({nounish})) AS nxt
  FROM {q}tk t JOIN {q}root r ON t.conv_id = r.conv_id AND t.sent_id = r.sent_id
  WHERE t.tag IN ('DT', 'JJ', 'RB') AND t.pos <> r.root
),
-- deps as (from_pos, rel, to_pos); UNION ALL branches mirror the cascade
{q}dep_pos AS MATERIALIZED (
  SELECT s.conv_id, s.sent_id, r.root AS f_pos, 'nsubj' AS rel, s.subj AS t_pos
    FROM {q}subj s JOIN {q}root r ON s.conv_id = r.conv_id AND s.sent_id = r.sent_id
   WHERE s.subj <> r.root
  UNION ALL
  SELECT conv_id, sent_id, b_pos, 'compound', a_pos FROM {q}comp_pair
  UNION ALL
  SELECT e.conv_id, e.sent_id, e.root, 'dobj', e.pos
    FROM {q}elig2 e JOIN {q}dobj d ON e.conv_id = d.conv_id AND e.sent_id = d.sent_id
   WHERE e.pos = d.pos
  UNION ALL
  SELECT e.conv_id, e.sent_id, e.root, 'nmod', e.pos
    FROM {q}elig2 e LEFT JOIN {q}dobj d ON e.conv_id = d.conv_id AND e.sent_id = d.sent_id
   WHERE d.pos IS NULL OR e.pos <> d.pos
  UNION ALL
  SELECT conv_id, sent_id, pos, 'case', pending_in
    FROM {q}elig2 e
   WHERE pending_in IS NOT NULL
     AND NOT EXISTS (SELECT 1 FROM {q}dobj d
                     WHERE d.conv_id = e.conv_id AND d.sent_id = e.sent_id
                       AND d.pos = e.pos)
  UNION ALL
  SELECT conv_id, sent_id, nxt, CASE WHEN tag = 'DT' THEN 'det' ELSE 'amod' END, pos
    FROM {q}mods WHERE nxt IS NOT NULL
  UNION ALL
  SELECT t.conv_id, t.sent_id, r.root, 'punct', t.pos
    FROM {q}tk t JOIN {q}root r ON t.conv_id = r.conv_id AND t.sent_id = r.sent_id
   WHERE t.tag = '.' AND t.pos <> r.root
),
{q}attached AS MATERIALIZED (
  SELECT conv_id, sent_id, t_pos AS pos FROM {q}dep_pos
  UNION
  SELECT conv_id, sent_id, root FROM {q}root
),
{q}dep_all AS MATERIALIZED (
  SELECT * FROM {q}dep_pos
  UNION ALL
  SELECT t.conv_id, t.sent_id, r.root, 'dep', t.pos
    FROM {q}tk t JOIN {q}root r ON t.conv_id = r.conv_id AND t.sent_id = r.sent_id
   WHERE NOT EXISTS (SELECT 1 FROM {q}attached a
                     WHERE a.conv_id = t.conv_id AND a.sent_id = t.sent_id
                       AND a.pos = t.pos)
),
-- G. resolve through w2l (word-level equi-joins) + first-occurrence probe
{q}resolved AS MATERIALIZED (
  SELECT d.conv_id, d.sent_id, d.rel,
         wf.lemma AS lfrom, wf.tag AS lftag,
         wt.lemma AS lto, wt.tag AS lttag,
         ns.first_sent AS lto_first
  FROM {q}dep_all d
  JOIN {q}tk f ON f.conv_id = d.conv_id AND f.sent_id = d.sent_id AND f.pos = d.f_pos
  JOIN {q}tk t ON t.conv_id = d.conv_id AND t.sent_id = d.sent_id AND t.pos = d.t_pos
  JOIN {q}w2l wf ON wf.conv_id = d.conv_id AND wf.sent_id = d.sent_id AND wf.word = f.word
  JOIN {q}w2l wt ON wt.conv_id = d.conv_id AND wt.sent_id = d.sent_id AND wt.word = t.word
  LEFT JOIN {q}noun_set ns ON ns.conv_id = d.conv_id AND ns.lemma = wt.lemma
),
-- H. edgesInSent cascade -> per-sentence edges, then distinct graph edges
--    (default params: all_recs on, noun_defs on, noun_self off)
{q}branch AS MATERIALIZED (
  SELECT *,
    (rel = 'punct' AND lttag = '.') AS is_punct_dot,
    (substr(lftag, 1, 1) = 'V' AND substr(lttag, 1, 1) = 'N'
     AND (rel LIKE '%subj%' OR rel LIKE '%obj%')) AS vn,
    (substr(lttag, 1, 1) = 'N') AS to_noun,
    (lto_first = sent_id) AS first_in,
    CAST(sent_id AS VARCHAR) AS sk,
    (substr(lftag, 1, 1) = 'N' AND substr(lttag, 1, 1) = 'N'
     AND rel = 'compound') AS is_comp
  FROM {q}resolved
),
{q}medge AS MATERIALIZED (
  SELECT conv_id, src_kind, src, dst_kind, dst, sent_id FROM (
    SELECT conv_id, 'S' AS src_kind, sk AS src, 'W' AS dst_kind, lfrom AS dst, sent_id
      FROM {q}branch WHERE is_punct_dot
    UNION ALL
    SELECT conv_id, 'W', lfrom, 'W', lto, sent_id FROM {q}branch
     WHERE NOT is_punct_dot AND (vn OR to_noun)
    UNION ALL
    SELECT conv_id, 'S', sk, 'W', lto, sent_id FROM {q}branch WHERE NOT is_punct_dot AND vn
    UNION ALL
    SELECT conv_id, 'W', lto, 'S', sk, sent_id FROM {q}branch
     WHERE NOT is_punct_dot AND (vn OR to_noun) AND first_in
    UNION ALL
    SELECT conv_id, 'W', lto, 'W', lfrom, sent_id FROM {q}branch
     WHERE NOT is_punct_dot AND NOT vn AND NOT to_noun
    UNION ALL
    SELECT conv_id, 'W', lto, 'S', sk, sent_id FROM {q}branch
     WHERE NOT is_punct_dot AND NOT vn AND NOT to_noun
    UNION ALL
    SELECT conv_id, 'W', lfrom, 'W', lto || ' ' || lfrom, sent_id FROM {q}branch WHERE is_comp
    UNION ALL
    SELECT conv_id, 'W', lto, 'W', lto || ' ' || lfrom, sent_id FROM {q}branch WHERE is_comp
  )
),
{q}gedge AS MATERIALIZED (
  SELECT DISTINCT conv_id, src_kind, src, dst_kind, dst FROM {q}medge
),
gedge_end AS (SELECT 1)"""


def dr_components_sql() -> str:
    """Per-conversation weak CC with min-token labels over the re-derived
    graph (components_per_conv semantics)."""
    return _strip_tail(_pipeline_ctes()) + """,
-- I. per-conversation weak CC, label = min node token (kind || key)
sym AS MATERIALIZED (
  SELECT conv_id, src_kind || src AS a, dst_kind || dst AS b FROM gedge
  UNION
  SELECT conv_id, dst_kind || dst AS a, src_kind || src AS b FROM gedge
),
reach AS (
  SELECT conv_id, a, a AS b FROM sym
  UNION
  SELECT r.conv_id, r.a, s.b
  FROM reach r JOIN sym s ON r.conv_id = s.conv_id AND r.b = s.a
)
SELECT conv_id, substr(a, 1, 1) AS kind, substr(a, 2) AS key,
       MIN(b) AS component
FROM reach GROUP BY conv_id, a
"""


def _strip_tail(ctes: str) -> str:
    """Drop the terminal placeholder so callers can append CTEs/SELECTs."""
    tail = ",\ngedge_end AS (SELECT 1)"
    assert ctes.rstrip().endswith("gedge_end AS (SELECT 1)"), "unexpected CTE tail"
    return ctes.rstrip()[: -len("gedge_end AS (SELECT 1)")].rstrip().rstrip(",")


def dr_line_graph_adj_sql(doc_mod: int = 50) -> str:
    """Structural line graph (W9's adjacency: vertices are graph edges,
    connected when consecutive — line_graph.line_graph_edges) over the
    re-derived graph of every doc_mod-th document, mirroring the engine's
    q_dr_line_graph input subset."""
    prefix = _strip_tail(_pipeline_ctes(f"WHERE doc_id % {doc_mod} = 0"))
    return prefix + """,
ekey AS MATERIALIZED (
  SELECT conv_id,
         (src_kind || src) || '>' || (dst_kind || dst) AS ek,
         src_kind || src AS head,
         dst_kind || dst AS tail
  FROM gedge
)
SELECT DISTINCT a.conv_id,
       'E' AS src_kind, a.ek AS src,
       'E' AS dst_kind, b.ek AS dst
FROM ekey a JOIN ekey b ON a.conv_id = b.conv_id AND a.tail = b.head
WHERE a.ek <> b.ek
"""


# ---------------------------------------------------------------------------
# Recursive per-conversation PageRank (numpy-schedule mirror)
# ---------------------------------------------------------------------------

D1 = "CAST(1.0 AS DOUBLE)"
D0 = "CAST(0.0 AS DOUBLE)"
ALPHA = "CAST(0.85 AS DOUBLE)"


def _pr_ctes(
    edge_cte: str,
    tol: str = "1e-6",
    max_iter: int = 200,
    r: str = "",
    pers_cte: str | None = None,
) -> str:
    """CTE block: per-conv PageRank over `edge_cte`(conv_id, s, d) distinct
    string-keyed pairs -> `{r}ranks`(conv_id, kind, key, rank).

    Mirrors operators/pagerank.py:_power_iteration / _conv_pagerank_pdf
    term by term: x0 = 1/n uniform; contrib = sum(rank/outdeg) per dst;
    dm = rank mass on out-degree-0 nodes; x' = alpha*(contrib + dm*p) +
    (1-alpha)*p; per-conv stop at L1(x'-x) < n*tol (the `done` flag — rows
    for a conversation are emitted one final time and the recursion then
    drops that conversation). The safety cap at `max_iter` mirrors numpy's
    raise: a non-converged conversation yields no `done` rows, so the
    driver's row-count compare exposes it instead of an infinite recursion.

    r: CTE-name prefix (two PageRanks can coexist in one statement).
    pers_cte: optional personalization table (conv_id, nd, weight) —
    restricted to graph nodes and L1-normalized per conversation exactly
    as _conv_pagerank_pdf does (missing nodes weight 0; all-zero vector
    falls back to uniform); p is then that vector instead of 1/n."""
    if pers_cte is None:
        pers_block = f""",
{r}pvec AS MATERIALIZED (
  SELECT n.conv_id, n.nd, {D1} / ns.n AS pv
  FROM {r}prnode n JOIN {r}prn ns ON n.conv_id = ns.conv_id)"""
    else:
        pers_block = f""",
{r}ppre AS MATERIALIZED (
  SELECT p.conv_id, p.nd, SUM(p.weight) AS w
  FROM {pers_cte} p
  JOIN {r}prnode n ON n.conv_id = p.conv_id AND n.nd = p.nd
  GROUP BY p.conv_id, p.nd),
{r}psum AS MATERIALIZED (
  SELECT conv_id, SUM(w) AS tw FROM {r}ppre GROUP BY conv_id),
{r}pvec AS MATERIALIZED (
  SELECT n.conv_id, n.nd,
         CASE WHEN ps.tw IS NOT NULL AND ps.tw > 0
              THEN COALESCE(pp.w, {D0}) / ps.tw
              ELSE {D1} / ns.n END AS pv
  FROM {r}prnode n
  JOIN {r}prn ns ON ns.conv_id = n.conv_id
  LEFT JOIN {r}psum ps ON ps.conv_id = n.conv_id
  LEFT JOIN {r}ppre pp ON pp.conv_id = n.conv_id AND pp.nd = n.nd)"""
    return f"""
{r}prnode AS MATERIALIZED (SELECT DISTINCT conv_id, nd FROM (
  SELECT conv_id, s AS nd FROM {edge_cte}
  UNION ALL SELECT conv_id, d FROM {edge_cte})),
{r}prn AS MATERIALIZED (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS n
  FROM {r}prnode GROUP BY conv_id),
{r}prdeg AS MATERIALIZED (SELECT conv_id, s, CAST(COUNT(*) AS DOUBLE) AS deg
  FROM {edge_cte} GROUP BY conv_id, s){pers_block},
{r}pr AS (
  SELECT n.conv_id, n.nd, {D1} / ns.n AS rank, 0 AS it, FALSE AS done
  FROM {r}prnode n JOIN {r}prn ns ON n.conv_id = ns.conv_id
  UNION ALL
  SELECT conv_id, nd, next_rank, it + 1,
         SUM(ABS(next_rank - rank)) OVER (PARTITION BY conv_id)
           < n * CAST({tol} AS DOUBLE)
  FROM (
    SELECT cur.conv_id, cur.nd, cur.rank, cur.it, ns.n,
           {ALPHA} * (COALESCE(c.contrib, {D0}) + dmt.dm * pv.pv)
             + ({D1} - {ALPHA}) * pv.pv AS next_rank
    FROM {r}pr cur
    JOIN {r}prn ns ON ns.conv_id = cur.conv_id
    JOIN {r}pvec pv ON pv.conv_id = cur.conv_id AND pv.nd = cur.nd
    LEFT JOIN (
      SELECT x.conv_id, e.d AS cnode, SUM(x.rank / o.deg) AS contrib
      FROM {r}pr x
      JOIN {edge_cte} e ON x.conv_id = e.conv_id AND x.nd = e.s
      JOIN {r}prdeg o ON o.conv_id = x.conv_id AND o.s = x.nd
      WHERE NOT x.done
      GROUP BY x.conv_id, e.d
    ) c ON c.conv_id = cur.conv_id AND c.cnode = cur.nd
    JOIN (
      SELECT x.conv_id,
             COALESCE(SUM(CASE WHEN o.s IS NULL THEN x.rank END), {D0}) AS dm
      FROM {r}pr x
      LEFT JOIN {r}prdeg o ON o.conv_id = x.conv_id AND o.s = x.nd
      WHERE NOT x.done
      GROUP BY x.conv_id
    ) dmt ON dmt.conv_id = cur.conv_id
    WHERE NOT cur.done AND cur.it < {max_iter}
  )
),
{r}ranks AS MATERIALIZED (
  SELECT conv_id, substr(nd, 1, 1) AS kind, substr(nd, 2) AS key, rank
  FROM {r}pr WHERE done
)"""


# ---------------------------------------------------------------------------
# Scalar recognizer mirrors (functions/predicates.py)
# ---------------------------------------------------------------------------

_ENDS_WELL = ("ing", "ed", "ility", "ly", "er", "st")


def _ends_well_sql(v: str) -> str:
    return "(" + " OR ".join(f"{v} LIKE '%{s}'" for s in _ENDS_WELL) + ")"


def _in_dict_sql(v: str) -> str:
    """inDict (predicates.in_dict_col): dictionary + suffix heuristics."""
    from ..wordlist import WORD_SET

    stem = f"(CASE WHEN {v} LIKE '%s' THEN substr({v}, 1, length({v}) - 1) ELSE '' END)"
    return (
        f"(lower({v}) IN ({_inlist(WORD_SET)}) OR {_ends_well_sql(v)} "
        f"OR ({v} LIKE '%s' AND {_ends_well_sql(stem)}))"
    )


def _is_word_sql(v: str) -> str:
    return (
        f"(length({v}) > 1 AND (regexp_full_match({v}, '[A-Z][A-Za-z0-9]*') "
        f"OR {_in_dict_sql(v)}))"
    )


def _is_stop_sql(v: str) -> str:
    from ..wordlist import STOP_WORDS

    return f"(lower({v}) IN ({_inlist(STOP_WORDS)}))"


def _maybe_word_nodash_sql(v: str) -> str:
    spec = (
        f"({v} IN ('a', 'A', '''s', 'I') "
        f"OR (regexp_matches({v}, '^[A-Z]') AND {v} LIKE '%.'))"
    )
    # maybeWord's `w in ",.?;:-'()"` is a substring test; strpos(s, '') is 1
    punct = (
        f"((length({v}) > 0 AND strpos(',.?;:-''()', {v}) > 0) "
        f"OR {v} = '\"')"
    )
    return (
        f"({_is_word_sql(v)} OR {spec} OR {punct} "
        f"OR regexp_full_match({v}, '[0-9]+'))"
    )


def _maybe_word_sql(v: str) -> str:
    """maybeWord (predicates.maybe_word_col): no-dash form or all dash
    parts pass the no-dash form."""
    dash = (
        f"(len(string_split({v}, '-')) >= 2 AND len(list_filter("
        f"string_split({v}, '-'), p -> NOT (length(p) > 0 "
        f"AND {_maybe_word_nodash_sql('p')}))) = 0)"
    )
    return f"({v} IS NOT NULL AND ({_maybe_word_nodash_sql(v)} OR {dash}))"


# ---------------------------------------------------------------------------
# Extraction mirrors (operators/extract.py) over the re-derived graph
# ---------------------------------------------------------------------------


def _radj_ctes() -> str:
    """adjusted_ranks: sentence-length penalty
    rank/(1 + ln(1 + |len - avg_len|)) on S nodes (extract.py:34-60).
    sent_len counts ALL tokens of the turn (F.size(words)); the average is
    over every turn of the conversation, including token-less ones."""
    return f"""
slen AS MATERIALIZED (
  SELECT conv_id, sent_id,
         CAST(len(regexp_extract_all(text, '{TOKEN_SQL_RE}')) AS DOUBLE) AS sent_len
  FROM turn),
avgl AS MATERIALIZED (
  SELECT conv_id, AVG(sent_len) AS avg_len FROM slen GROUP BY conv_id),
radj AS MATERIALIZED (
  SELECT r.conv_id, r.kind, r.key,
         CASE WHEN r.kind = 'S' AND sl.sent_len IS NOT NULL
              THEN r.rank / ({D1} + ln({D1} + abs(sl.sent_len - a.avg_len)))
              ELSE r.rank END AS rank
  FROM ranks r
  LEFT JOIN slen sl ON sl.conv_id = r.conv_id AND r.kind = 'S'
                   AND CAST(sl.sent_id AS VARCHAR) = r.key
  LEFT JOIN avgl a ON a.conv_id = r.conv_id
)"""


def _text_rank_prefix(doc_filter: str = "") -> str:
    """parse -> edges -> per-conv PageRank -> adjusted ranks CTE chain."""
    return (
        _strip_tail(_pipeline_ctes(doc_filter))
        + ",\nedg AS MATERIALIZED (SELECT conv_id, src_kind || src AS s, "
        "dst_kind || dst AS d FROM gedge),"
        + _pr_ctes("edg")
        + ","
        + _radj_ctes()
    )


def dr_keywords_sql(k: int = 6) -> str:
    """bestWords (extract.keywords): maybeWord, non-stopword word nodes
    containing a noun-set lemma, top-k by adjusted rank with the pinned
    (rank DESC, key) order."""
    return _text_rank_prefix() + f""",
kcand AS MATERIALIZED (
  SELECT conv_id, key, rank FROM radj
  WHERE kind = 'W' AND {_maybe_word_sql('key')} AND NOT {_is_stop_sql('key')}),
kwithnoun AS MATERIALIZED (
  SELECT DISTINCT p.conv_id, p.key
  FROM (SELECT conv_id, key, UNNEST(string_split(key, ' ')) AS lemma
        FROM kcand) p
  JOIN noun_set ns ON ns.conv_id = p.conv_id AND ns.lemma = p.lemma)
SELECT conv_id, keyword, ROUND(rank, 8) AS rank FROM (
  SELECT c.conv_id, c.key AS keyword, c.rank,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id
                            ORDER BY ROUND(c.rank, 8) DESC, c.key) AS rn
  FROM kcand c
  JOIN kwithnoun w ON w.conv_id = c.conv_id AND w.key = c.key
) WHERE rn <= {k}
"""


def dr_summary_sql(k: int = 5) -> str:
    """bestSentences (extract.summary): top-k clean sentences by adjusted
    rank; sentence-id ties compare numerically (lpad mirror of
    node_order_key)."""
    return _text_rank_prefix() + f""",
clean_sent AS MATERIALIZED (
  SELECT conv_id, sent_id FROM tk
  GROUP BY conv_id, sent_id
  HAVING COUNT(*) >= 3
     AND BOOL_AND(length(lemma) > 0
                  AND ({_maybe_word_sql('lemma')} OR {_in_dict_sql('lemma')}))),
stext AS MATERIALIZED (
  SELECT conv_id, sent_id, string_agg(word, ' ' ORDER BY pos) AS sent_text
  FROM tok GROUP BY conv_id, sent_id)
SELECT conv_id, turn_idx, sent_text FROM (
  SELECT r.conv_id, CAST(r.key AS INT) AS turn_idx, st.sent_text,
         ROW_NUMBER() OVER (PARTITION BY r.conv_id
                            ORDER BY ROUND(r.rank, 8) DESC,
                                     lpad(r.key, 20, '0')) AS rn
  FROM radj r
  JOIN clean_sent cs ON cs.conv_id = r.conv_id
                    AND CAST(cs.sent_id AS VARCHAR) = r.key
  JOIN stext st ON st.conv_id = r.conv_id AND st.sent_id = cs.sent_id
  WHERE r.kind = 'S'
) WHERE rn <= {k}
"""


def _svo_ctes(q: str = "") -> str:
    """SVO assembly (edges.svo_table): verb->noun subj/obj deps with
    isWord endpoints joined on the shared verb -> `{q}svo`(conv_id,
    sent_id, subj, verb, obj). q prefixes the CTE names so the document
    and query sides can coexist in one statement."""
    vn = "substr(lftag, 1, 1) = 'V' AND substr(lttag, 1, 1) = 'N'"
    word_ok = (
        f"lfrom <> lto AND {_is_word_sql('lfrom')} AND {_is_word_sql('lto')}"
    )
    return f"""
{q}svs AS MATERIALIZED (
  SELECT DISTINCT conv_id, sent_id, lfrom AS verb, lftag AS vtag, lto AS subj
  FROM {q}resolved
  WHERE rel LIKE '%subj%' AND {vn} AND {word_ok}),
{q}svo_o AS MATERIALIZED (
  SELECT DISTINCT conv_id, sent_id, lfrom AS verb, lftag AS vtag, lto AS obj
  FROM {q}resolved
  WHERE rel NOT LIKE '%subj%' AND rel LIKE '%obj%' AND {vn} AND {word_ok}),
{q}svo AS MATERIALIZED (
  SELECT s.conv_id, s.sent_id, s.subj, s.verb, o.obj
  FROM {q}svs s
  JOIN {q}svo_o o ON s.conv_id = o.conv_id AND s.sent_id = o.sent_id
              AND s.verb = o.verb AND s.vtag = o.vtag)"""


def _scored_svo_ctes(k: int = 10) -> str:
    """bestSVOs (edges.svo_table + extract.scored_svos): the `svo` CTE
    scored (2*rank(subj) + rank(obj))/3 over word ranks, distinct,
    ranked -> the `topsvo` CTE (rows with rn <= k are the published
    relations)."""
    return _svo_ctes() + """,
scored AS MATERIALIZED (
  SELECT DISTINCT v.conv_id, v.subj, v.verb, v.obj, v.sent_id,
         (CAST(2.0 AS DOUBLE) * rs.rank + ro.rank) / CAST(3.0 AS DOUBLE) AS score
  FROM svo v
  JOIN radj rs ON rs.conv_id = v.conv_id AND rs.kind = 'W' AND rs.key = v.subj
  JOIN radj ro ON ro.conv_id = v.conv_id AND ro.kind = 'W' AND ro.key = v.obj
  WHERE rs.rank <> 0 AND ro.rank <> 0),
topsvo AS MATERIALIZED (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id
    ORDER BY ROUND(score, 8) DESC, subj, verb, obj, sent_id) AS rn
  FROM scored)"""


def dr_relations_sql(k: int = 10) -> str:
    return (
        _text_rank_prefix()
        + ","
        + _scored_svo_ctes(k)
        + f"""
SELECT conv_id, subj, verb, obj, sent_id, ROUND(score, 8) AS score
FROM topsvo WHERE rn <= {k}
"""
    )


def dr_svo_extended_sql(doc_mod: int = 50, k: int = 10) -> str:
    """extend_svos_with_taxonomy (extract.py:172-221): each endpoint of the
    top-k SVOs joined to the shipped taxonomy dimension (inlined VALUES of
    functions/taxonomy.taxonomy_rows — same constants, no drift), emitted
    as is_a / part_of rows, both ends required to occur among the
    document's word ranks, self-pairs dropped, distinct, top-k per
    conversation in (subj, verb, obj, sent_id) order."""
    from ..functions.taxonomy import taxonomy_rows

    vals = ", ".join(
        f"('{a}', '{r}', '{b}')" for a, r, b in taxonomy_rows()
    )
    return (
        _text_rank_prefix(f"WHERE doc_id % {doc_mod} = 0")
        + ","
        + _scored_svo_ctes(k)
        + f""",
wn_rel AS MATERIALIZED (
  SELECT * FROM (VALUES {vals}) t(lemma, rel_type, related)),
ends AS MATERIALIZED (
  SELECT conv_id, w, sent_id FROM (
    SELECT conv_id, subj AS w, sent_id FROM topsvo WHERE rn <= {k}
    UNION ALL
    SELECT conv_id, obj AS w, sent_id FROM topsvo WHERE rn <= {k})),
ext AS MATERIALIZED (
  SELECT DISTINCT e.conv_id,
    CASE WHEN t.rel_type IN ('holo', 'hyper') THEN e.w ELSE t.related END AS subj,
    CASE WHEN t.rel_type IN ('hyper', 'hypo') THEN 'is_a' ELSE 'part_of' END AS verb,
    CASE WHEN t.rel_type IN ('holo', 'hyper') THEN t.related ELSE e.w END AS obj,
    e.sent_id
  FROM ends e JOIN wn_rel t ON e.w = t.lemma),
docw AS MATERIALIZED (
  SELECT DISTINCT conv_id, key FROM radj WHERE kind = 'W')
SELECT conv_id, subj, verb, obj, sent_id FROM (
  SELECT x.*, ROW_NUMBER() OVER (PARTITION BY x.conv_id
    ORDER BY x.subj, x.verb, x.obj, x.sent_id) AS rn
  FROM ext x
  JOIN docw ws ON ws.conv_id = x.conv_id AND ws.key = x.subj
  JOIN docw wo ON wo.conv_id = x.conv_id AND wo.key = x.obj
  WHERE x.subj <> x.obj
) WHERE rn <= {k}
"""
    )


def dr_line_graph_sql(doc_mod: int = 50, k: int = 8) -> str:
    """best_word_edges (line_graph.py): PageRank over the line graph,
    top-k word-word edges per conversation."""
    prefix = _strip_tail(_pipeline_ctes(f"WHERE doc_id % {doc_mod} = 0"))
    return prefix + f""",
ekey AS MATERIALIZED (
  SELECT conv_id,
         (src_kind || src) || '>' || (dst_kind || dst) AS ek,
         src_kind || src AS head,
         dst_kind || dst AS tail
  FROM gedge),
lgedg AS MATERIALIZED (
  SELECT DISTINCT a.conv_id, 'E' || a.ek AS s, 'E' || b.ek AS d
  FROM ekey a JOIN ekey b ON a.conv_id = b.conv_id AND a.tail = b.head
  WHERE a.ek <> b.ek),{_pr_ctes("lgedg")}
SELECT conv_id, src_word, dst_word, ROUND(rank, 8) AS rank FROM (
  SELECT conv_id,
         substr(string_split(key, '>')[1], 2) AS src_word,
         substr(string_split(key, '>')[2], 2) AS dst_word, rank,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ROUND(rank, 8) DESC,
           substr(string_split(key, '>')[1], 2),
           substr(string_split(key, '>')[2], 2)) AS rn
  FROM ranks
  WHERE len(string_split(key, '>')) >= 2
    AND length(string_split(key, '>')[2]) > 0
    AND substr(string_split(key, '>')[1], 1, 1) = 'W'
    AND substr(string_split(key, '>')[2], 1, 1) = 'W'
) WHERE rn <= {k}
"""


def dr_dot_sql(doc_mod: int = 50, k: int = 8) -> str:
    """toDot end to end (S10, sources/dot.py): bestNodes(k) selection with
    the pinned (round(rank,8) DESC, kind, node_order_key) order, both-ends
    semi-join over the re-derived graph, DOT escaping, sorted edge lines,
    one digraph document per conversation. chr(92) is the backslash —
    spelled that way so the escaping survives both Python and SQL quoting."""
    esc = (
        "replace(replace({c}, chr(92), chr(92) || chr(92)), "
        "'\"', chr(92) || '\"')"
    )
    prefix = _text_rank_prefix(f"WHERE doc_id % {doc_mod} = 0")
    return prefix + f""",
best AS MATERIALIZED (
  SELECT conv_id, kind, key FROM (
    SELECT conv_id, kind, key,
           ROW_NUMBER() OVER (PARTITION BY conv_id
             ORDER BY ROUND(rank, 8) DESC, kind,
                      CASE WHEN kind = 'S' THEN lpad(key, 20, '0')
                           ELSE key END) AS rn
    FROM radj) WHERE rn <= {k}),
de AS MATERIALIZED (
  SELECT g.conv_id,
         {esc.format(c='g.src')} AS src,
         {esc.format(c='g.dst')} AS dst
  FROM gedge g
  JOIN best bs ON bs.conv_id = g.conv_id AND bs.kind = g.src_kind
              AND bs.key = g.src
  JOIN best bd ON bd.conv_id = g.conv_id AND bd.kind = g.dst_kind
              AND bd.key = g.dst),
dlines AS MATERIALIZED (
  SELECT conv_id, '  "' || src || '" -> "' || dst || '";' AS line, src, dst
  FROM de),
nn AS MATERIALIZED (
  SELECT conv_id, COUNT(DISTINCT v) AS n_nodes FROM (
    SELECT conv_id, src AS v FROM de
    UNION ALL SELECT conv_id, dst FROM de) GROUP BY conv_id)
SELECT l.conv_id, CAST(nn.n_nodes AS INT) AS n_nodes,
       CAST(COUNT(*) AS INT) AS n_edges,
       'digraph "textgraph" {{' || chr(10) ||
       string_agg(l.line, chr(10) ORDER BY l.line) || chr(10) ||
       '}}' || chr(10) AS dot
FROM dlines l JOIN nn ON nn.conv_id = l.conv_id
GROUP BY l.conv_id, nn.n_nodes
"""


def dr_query_answers_sql(doc_mod: int = 50, max_answers: int = 3, sent_count: int = 5) -> str:
    """Entry-point-C oracle (operators/query.py:answer_queries): the parse
    pipeline instantiated TWICE in one statement — documents (prefix '')
    and query texts (prefix 'q_', first 8 tokens of each document, the
    contract query's fixture) — then query-graph PageRank -> filtered
    personalization vector -> personalized rerank of the document graph
    (recursive PR with the pers vector, `_pr_ctes(pers_cte=...)`) ->
    length adjustment -> shared-token good-sentence filter -> top
    max_answers clean sentences minus the document summary (with the
    all-in-summary fallback)."""
    doc_filter = f"WHERE doc_id % {doc_mod} = 0"
    qturn = (
        f"SELECT 'd' || CAST(doc_id AS VARCHAR) AS conv_id, 0 AS sent_id, "
        f"array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS text "
        f"FROM documents {doc_filter}"
    )
    doc_part = _strip_tail(_pipeline_ctes(doc_filter))
    q_part = _strip_tail(
        _pipeline_ctes(q="q_", turn_sql=qturn)
    ).replace("\nWITH RECURSIVE", "", 1)
    return (
        doc_part
        + ","
        + q_part
        + ",\nq_edg AS MATERIALIZED (SELECT conv_id, src_kind || src AS s, "
        "dst_kind || dst AS d FROM q_gedge),"
        + _pr_ctes("q_edg", r="qr_")
        + f""",
pers AS MATERIALIZED (
  SELECT conv_id, 'W' || key AS nd, rank AS weight
  FROM qr_ranks
  WHERE kind = 'W' AND {_maybe_word_sql('key')} AND NOT {_is_stop_sql('key')}),
-- rerank runs only for conversations that produced a personalization
-- vector (rerank_for_queries joins gedges against pers conv ids)
rr_edg AS MATERIALIZED (
  SELECT e.conv_id, e.src_kind || e.src AS s, e.dst_kind || e.dst AS d
  FROM gedge e
  JOIN (SELECT DISTINCT conv_id FROM pers) pc ON pc.conv_id = e.conv_id),"""
        + _pr_ctes("rr_edg", r="rr_", pers_cte="pers")
        + f""",
slen AS MATERIALIZED (
  SELECT conv_id, sent_id,
         CAST(len(regexp_extract_all(text, '{TOKEN_SQL_RE}')) AS DOUBLE) AS sent_len
  FROM turn),
avgl AS MATERIALIZED (
  SELECT conv_id, AVG(sent_len) AS avg_len FROM slen GROUP BY conv_id),
rr_radj AS MATERIALIZED (
  SELECT r.conv_id, r.kind, r.key,
         CASE WHEN r.kind = 'S' AND sl.sent_len IS NOT NULL
              THEN r.rank / ({D1} + ln({D1} + abs(sl.sent_len - a.avg_len)))
              ELSE r.rank END AS rank
  FROM rr_ranks r
  LEFT JOIN slen sl ON sl.conv_id = r.conv_id AND r.kind = 'S'
                   AND CAST(sl.sent_id AS VARCHAR) = r.key
  LEFT JOIN avgl a ON a.conv_id = r.conv_id),
q_tokens AS MATERIALIZED (
  SELECT conv_id, token FROM (
    SELECT DISTINCT conv_id, token FROM (
      SELECT conv_id, src AS token FROM q_medge WHERE src_kind = 'W'
      UNION ALL
      SELECT conv_id, dst AS token FROM q_medge WHERE dst_kind = 'W'))
  WHERE {_maybe_word_sql('token')} AND NOT {_is_stop_sql('token')}),
tok_sents AS MATERIALIZED (
  SELECT DISTINCT conv_id, token, sent_id FROM (
    SELECT conv_id, src AS token, sent_id FROM medge WHERE src_kind = 'W'
    UNION ALL
    SELECT conv_id, dst AS token, sent_id FROM medge WHERE dst_kind = 'W')),
good AS MATERIALIZED (
  SELECT DISTINCT q.conv_id, t.sent_id
  FROM q_tokens q JOIN tok_sents t
    ON t.conv_id = q.conv_id AND t.token = q.token),
clean_sent AS MATERIALIZED (
  SELECT conv_id, sent_id FROM tk
  GROUP BY conv_id, sent_id
  HAVING COUNT(*) >= 3
     AND BOOL_AND(length(lemma) > 0
                  AND ({_maybe_word_sql('lemma')} OR {_in_dict_sql('lemma')}))),
stext AS MATERIALIZED (
  SELECT conv_id, sent_id, string_agg(word, ' ' ORDER BY pos) AS sent_text
  FROM tok GROUP BY conv_id, sent_id),
sents AS MATERIALIZED (
  SELECT r.conv_id, cs.sent_id, st.sent_text, r.rank, r.key
  FROM rr_radj r
  JOIN clean_sent cs ON cs.conv_id = r.conv_id
                    AND CAST(cs.sent_id AS VARCHAR) = r.key
  JOIN stext st ON st.conv_id = r.conv_id AND st.sent_id = cs.sent_id
  WHERE r.kind = 'S'),
answers AS MATERIALIZED (
  SELECT * FROM (
    SELECT s.conv_id, s.sent_id, s.sent_text,
           ROW_NUMBER() OVER (PARTITION BY s.conv_id
             ORDER BY ROUND(s.rank, 8) DESC, lpad(s.key, 20, '0')) AS rn
    FROM sents s
    JOIN good g ON g.conv_id = s.conv_id AND g.sent_id = s.sent_id
  ) WHERE rn <= {max_answers}),
summ AS MATERIALIZED (
  SELECT conv_id, sent_id FROM (
    SELECT conv_id, sent_id,
           ROW_NUMBER() OVER (PARTITION BY conv_id
             ORDER BY ROUND(rank, 8) DESC, lpad(key, 20, '0')) AS rn
    FROM sents
  ) WHERE rn <= {sent_count})
SELECT conv_id, CAST(0 AS INT) AS q_idx, turn_idx, sent_text FROM (
  SELECT a.conv_id, a.sent_id AS turn_idx, a.sent_text,
         (sm.sent_id IS NOT NULL) AS in_summary,
         SUM(CASE WHEN sm.sent_id IS NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY a.conv_id) AS n_outside
  FROM answers a
  LEFT JOIN summ sm ON sm.conv_id = a.conv_id AND sm.sent_id = a.sent_id
) WHERE n_outside = 0 OR NOT in_summary
"""
    )


def dr_vote_answers_sql(doc_mod: int = 50, max_answers: int = 3) -> str:
    """Four-matcher answer-engine oracle (operators/answers.py:
    four_matcher_answers): document + query parse pipelines, query-graph
    PageRank -> personalization -> personalized rerank (raw, no length
    adjustment — answers score with the raw rerank), taxonomy + wup-sim
    query-term expansion (both dimension tables inlined as VALUES from the
    same Python constants), the four matchers (ner / relevant / edges /
    4-way svo), distinct per-matcher votes, and the apply_rank scoring
    exp(r0*votes) * log1p(1/len-penalty) with 8-decimal-pinned ordering."""
    from ..functions.taxonomy import taxonomy_rows
    from ..functions.wordsim import sim_pairs

    doc_filter = f"WHERE doc_id % {doc_mod} = 0"
    qturn = (
        f"SELECT 'd' || CAST(doc_id AS VARCHAR) AS conv_id, 0 AS sent_id, "
        f"'who ' || array_to_string(list_slice(string_split(text, ' '), 3, 8), ' ') AS text "
        f"FROM documents {doc_filter}"
    )
    wn_vals = ", ".join(f"('{a}', '{r}', '{b}')" for a, r, b in taxonomy_rows())
    sim_vals = ", ".join(f"('{a}', '{b}')" for a, b, _ in sim_pairs())
    wh_vals = "('who', 'NAME'), ('many', 'NUMBER'), ('when', 'NUMBER'), ('where', 'NAME')"
    good_tag = "substr(tag, 1, 1) IN ('N', 'V', 'J')"
    doc_part = _strip_tail(_pipeline_ctes(doc_filter))
    q_part = _strip_tail(
        _pipeline_ctes(q="q_", turn_sql=qturn)
    ).replace("\nWITH RECURSIVE", "", 1)
    return (
        doc_part
        + ","
        + q_part
        + ","
        + _svo_ctes()          # doc svo
        + ","
        + _svo_ctes("q_")      # query svo (J11 input)
        + ",\nq_edg AS MATERIALIZED (SELECT conv_id, src_kind || src AS s, "
        "dst_kind || dst AS d FROM q_gedge),"
        + _pr_ctes("q_edg", r="qr_")
        + f""",
pers AS MATERIALIZED (
  SELECT conv_id, 'W' || key AS nd, rank AS weight
  FROM qr_ranks
  WHERE kind = 'W' AND {_maybe_word_sql('key')} AND NOT {_is_stop_sql('key')}),
rr_edg AS MATERIALIZED (
  SELECT e.conv_id, e.src_kind || e.src AS s, e.dst_kind || e.dst AS d
  FROM gedge e
  JOIN (SELECT DISTINCT conv_id FROM pers) pc ON pc.conv_id = e.conv_id),"""
        + _pr_ctes("rr_edg", r="rr_", pers_cte="pers")
        + f""",
wn_rel AS MATERIALIZED (
  SELECT * FROM (VALUES {wn_vals}) t(lemma, rel_type, related)),
sim_tbl AS MATERIALIZED (
  SELECT * FROM (VALUES {sim_vals}) t(lemma_a, lemma_b)),
wh_map AS MATERIALIZED (
  SELECT * FROM (VALUES {wh_vals}) t(wh, ner_class)),
-- expanded query terms: query word ranks + taxonomy neighbors at the same
-- rank + wup-similar doc lemmas at R_query * rank_doc; max per term
q_words AS MATERIALIZED (
  SELECT conv_id, substr(nd, 2) AS term, weight AS r FROM pers),
q_exp AS MATERIALIZED (
  SELECT q.conv_id, t.related AS term, q.r
  FROM q_words q JOIN wn_rel t ON q.term = t.lemma),
rr_w AS MATERIALIZED (
  SELECT conv_id, key AS doc_term, rank AS rr FROM rr_ranks WHERE kind = 'W'),
q_sim AS MATERIALIZED (
  SELECT q.conv_id, w.doc_term AS term, q.r * w.rr AS r
  FROM q_words q
  JOIN sim_tbl s ON q.term = s.lemma_a
  JOIN rr_w w ON w.conv_id = q.conv_id AND w.doc_term = s.lemma_b),
q_terms AS MATERIALIZED (
  SELECT conv_id, term, MAX(r) AS r FROM (
    SELECT * FROM q_words UNION ALL SELECT * FROM q_exp
    UNION ALL SELECT * FROM q_sim)
  GROUP BY conv_id, term),
-- shared matcher inputs
sent_tokens AS MATERIALIZED (
  SELECT DISTINCT conv_id, sent_id, tok FROM (
    SELECT conv_id, sent_id, word AS tok FROM tk
    UNION ALL SELECT conv_id, sent_id, lemma FROM tk)),
q_toks AS MATERIALIZED (
  SELECT conv_id, word, lemma, tag FROM q_tk),
q_keys AS MATERIALIZED (
  SELECT DISTINCT conv_id, lemma AS key FROM q_toks
  WHERE {_maybe_word_sql('lemma')} AND NOT {_is_stop_sql('lemma')}
    AND {good_tag}),
-- matcher 1: ner (J12) — deterministic rule NER over doc tokens
ner AS MATERIALIZED (
  SELECT DISTINCT conv_id, sent_id, word, ner_tag FROM (
    SELECT conv_id, sent_id, word,
      CASE WHEN pos > 1 AND regexp_full_match(word, '[A-Z][A-Za-z0-9]*')
           THEN 'NAME'
           WHEN regexp_full_match(word, '[0-9]+') THEN 'NUMBER' END AS ner_tag
    FROM tk)
  WHERE ner_tag IS NOT NULL),
wh_in_q AS MATERIALIZED (
  SELECT DISTINCT q.conv_id, m.ner_class
  FROM q_toks q JOIN wh_map m ON lower(q.lemma) = m.wh),
ner_sents AS MATERIALIZED (
  SELECT n.conv_id, n.sent_id
  FROM ner n JOIN wh_in_q w ON w.conv_id = n.conv_id AND w.ner_class = n.ner_tag),
good_q AS MATERIALIZED (
  SELECT conv_id, word AS tok FROM q_toks WHERE {good_tag}),
shared_sents AS MATERIALIZED (
  SELECT DISTINCT g.conv_id, s.sent_id
  FROM good_q g JOIN sent_tokens s ON s.conv_id = g.conv_id AND s.tok = g.tok),
m_ner AS MATERIALIZED (
  SELECT DISTINCT n.conv_id, n.sent_id
  FROM ner_sents n
  JOIN shared_sents sh ON sh.conv_id = n.conv_id AND sh.sent_id = n.sent_id),
-- matcher 2: relevant (A6) — >= 2 shared top-60 terms
top_terms AS MATERIALIZED (
  SELECT conv_id, term, r FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id
      ORDER BY r DESC, term) AS rn FROM q_terms)
  WHERE rn <= 60),
m_rel AS MATERIALIZED (
  SELECT conv_id, sent_id FROM (
    SELECT t.conv_id, s.sent_id, COUNT(DISTINCT t.term) AS l
    FROM top_terms t
    JOIN sent_tokens s ON s.conv_id = t.conv_id AND s.tok = t.term
    GROUP BY t.conv_id, s.sent_id)
  WHERE l >= 2),
-- matcher 3: edges (J10) — equi on dst, src lifted for wh-words
q_edges AS MATERIALIZED (
  SELECT conv_id, src, dst FROM q_medge
  WHERE src_kind = 'W' AND dst_kind = 'W'),
doc_wedges AS MATERIALIZED (
  SELECT conv_id, src, dst, sent_id FROM medge
  WHERE src_kind = 'W' AND dst_kind = 'W'),
m_edge AS MATERIALIZED (
  SELECT DISTINCT q.conv_id, d.sent_id
  FROM q_edges q
  JOIN doc_wedges d ON d.conv_id = q.conv_id AND d.dst = q.dst
  WHERE lower(q.src) IN ('who', 'many', 'when', 'where') OR q.src = d.src),
-- matcher 4: svo (J11, 4-way wildcard + focus-word clause)
m_svo AS MATERIALIZED (
  SELECT DISTINCT conv_id, sent_id FROM (
    SELECT q.conv_id, d.sent_id FROM q_svo q JOIN svo d
      ON d.conv_id = q.conv_id AND d.subj = q.subj AND d.obj = q.obj
    UNION ALL
    SELECT q.conv_id, d.sent_id FROM q_svo q JOIN svo d
      ON d.conv_id = q.conv_id AND d.subj = q.subj AND d.verb = q.verb
    UNION ALL
    SELECT q.conv_id, d.sent_id FROM q_svo q JOIN svo d
      ON d.conv_id = q.conv_id AND d.verb = q.verb AND d.obj = q.obj
    UNION ALL
    SELECT k.conv_id, d.sent_id FROM q_keys k JOIN svo d
      ON d.conv_id = k.conv_id AND d.subj = k.key
    UNION ALL
    SELECT k.conv_id, d.sent_id FROM q_keys k JOIN svo d
      ON d.conv_id = k.conv_id AND d.obj = k.key)),
-- votes: one per (sentence, matcher)
votes AS MATERIALIZED (
  SELECT conv_id, sent_id, COUNT(*) AS votes FROM (
    SELECT DISTINCT conv_id, sent_id, algo FROM (
      SELECT conv_id, sent_id, 'ner' AS algo FROM m_ner
      UNION ALL SELECT conv_id, sent_id, 'relevant' FROM m_rel
      UNION ALL SELECT conv_id, sent_id, 'edges' FROM m_edge
      UNION ALL SELECT conv_id, sent_id, 'svo' FROM m_svo))
  GROUP BY conv_id, sent_id),
-- apply_rank scoring over the raw personalized rerank
sent_info AS MATERIALIZED (
  SELECT t.conv_id, t.sent_id,
         CAST(len(regexp_extract_all(t.text, '{TOKEN_SQL_RE}')) AS INT) AS slen,
         EXISTS (SELECT 1 FROM tok o WHERE o.conv_id = t.conv_id
                 AND o.sent_id = t.sent_id AND o.word = '?') AS has_q
  FROM turn t),
r_sent AS MATERIALIZED (
  SELECT conv_id, CAST(key AS INT) AS sent_id, rank AS r0
  FROM rr_ranks WHERE kind = 'S')
SELECT conv_id, q_idx, sent_id, votes, ROUND(score, 8) AS score FROM (
  SELECT v.conv_id, CAST(0 AS INT) AS q_idx, v.sent_id, v.votes,
         exp(COALESCE(r.r0, {D0}) * v.votes)
           * ln({D1} + {D1} / (CASE WHEN si.slen < 4 OR si.has_q
                 THEN CAST(1000.0 AS DOUBLE)
                 ELSE CAST(si.slen AS DOUBLE) END)) AS score,
         ROW_NUMBER() OVER (PARTITION BY v.conv_id
           ORDER BY v.votes DESC, ROUND(exp(COALESCE(r.r0, {D0}) * v.votes)
             * ln({D1} + {D1} / (CASE WHEN si.slen < 4 OR si.has_q
                   THEN CAST(1000.0 AS DOUBLE)
                   ELSE CAST(si.slen AS DOUBLE) END)), 8) DESC,
             v.sent_id) AS rn
  FROM votes v
  LEFT JOIN r_sent r ON r.conv_id = v.conv_id AND r.sent_id = v.sent_id
  LEFT JOIN sent_info si ON si.conv_id = v.conv_id AND si.sent_id = v.sent_id
) WHERE rn <= {max_answers}
"""
    )
