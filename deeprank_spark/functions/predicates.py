"""Reference scalar recognizers as pure Catalyst expressions.

Every predicate from /root/reference/textcrafts/deepRank.py:92-232 is
re-expressed as Spark SQL text and applied with one `F.expr` parse per use —
JVM-side, codegen'd, usable inside higher-order array functions (`forall`
over a SQL lambda) — never a Python UDF. The word dictionary and stopword
set are literal IN-lists rendered once at import (Catalyst turns them into
the same `InSet` hash lookups that `Column.isin` produced); at a larger
dictionary size these would become broadcast joins instead.

SQL text, not `Column` algebra, because a PySpark `Column` is built by py4j
round trips: `isin(list)` pays about four per value (a `functions` lookup,
`lit`, the call, an `ArrayList.add`), so one `in_dict_col` cost ~1,700
driver round trips. A predicate here costs the constant handful of one
`F.expr` call whatever the list sizes.

Callers pass a column NAME; the private `_*_sql` builders take any SQL
expression text (a quoted column, or a lambda variable inside `forall`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..wordlist import STOP_WORDS, WORD_SET


def _sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal (backslash escapes, the parser's
    default; 50 stop words contain a `'`)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def in_list_sql(values) -> str:
    """Comma-separated SQL string literals, for `x IN (...)`."""
    return ", ".join(_sql_str(v) for v in values)


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


_WORDS = in_list_sql(sorted(WORD_SET))
_STOPS = in_list_sql(sorted(STOP_WORDS))
_SPEC = in_list_sql(("a", "A", "'s", "I"))
_PUNCT = _sql_str(",.?;:-'()")

_ENDS_WELL = ("ing", "ed", "ility", "ly", "er", "st")


def _ends_well_sql(w: str) -> str:
    return "(" + " OR ".join(f"endswith({w}, '{s}')" for s in _ENDS_WELL) + ")"


def _in_dict_sql(w: str) -> str:
    """inDict (deepRank.py:137-164): dictionary membership + suffix heuristics."""
    stem = (
        f"CASE WHEN endswith({w}, 's') "
        f"THEN substring({w}, 1, length({w}) - 1) ELSE '' END"
    )
    return (
        f"(lower({w}) IN ({_WORDS}) OR {_ends_well_sql(w)} "
        f"OR (endswith({w}, 's') AND {_ends_well_sql(stem)}))"
    )


def _is_name_sql(w: str) -> str:
    """isName (deepRank.py:104-105): all-alnum, first char upper."""
    return f"({w} RLIKE '^[A-Z][A-Za-z0-9]*$')"


def _is_word_sql(w: str) -> str:
    """isWord (deepRank.py:96-101)."""
    return f"(length({w}) > 1 AND ({_is_name_sql(w)} OR {_in_dict_sql(w)}))"


def _is_stop_sql(w: str) -> str:
    return f"(lower({w}) IN ({_STOPS}))"


def _is_spec_sql(w: str) -> str:
    return f"({w} IN ({_SPEC}) OR ({w} RLIKE '^[A-Z]' AND endswith({w}, '.')))"


def _is_punct_sql(w: str) -> str:
    """maybeWord's `w in ",.?;:-'()"` is a SUBSTRING test (`,.` and `()`
    pass); the length guard is there because instr(s, '') is 1."""
    return f"((length({w}) > 0 AND instr({_PUNCT}, {w}) > 0) OR {w} = '\"')"


def _maybe_word_nodash_sql(w: str) -> str:
    return (
        f"(({_is_word_sql(w)} AND length({w}) > 1) OR {_is_spec_sql(w)} "
        f"OR {_is_punct_sql(w)} OR {w} RLIKE '^[0-9]+$')"
    )


def _maybe_word_sql(w: str) -> str:
    """maybeWord (deepRank.py:112-116). hasDash (:127-134): parts contain no
    further dashes with our tokenizer, so one recursion level is exact."""
    has_dash = (
        f"(size(split({w}, '-')) >= 2 AND forall(split({w}, '-'), "
        f"p -> length(p) > 0 AND {_maybe_word_nodash_sql('p')}))"
    )
    return f"({w} IS NOT NULL AND ({_maybe_word_nodash_sql(w)} OR {has_dash}))"


def _is_clean_sent_sql(lemmas: str) -> str:
    """isCleanSent (deepRank.py:171-184) over a lemma array expression."""
    ok = (
        f"x -> x IS NOT NULL AND length(x) > 0 "
        f"AND ({_maybe_word_sql('x')} OR {_in_dict_sql('x')})"
    )
    return f"(size({lemmas}) >= 3 AND forall({lemmas}, {ok}))"


def in_dict_col(name: str) -> Column:
    return F.expr(_in_dict_sql(_ident(name)))


def is_name_col(name: str) -> Column:
    return F.expr(_is_name_sql(_ident(name)))


def is_word_col(name: str) -> Column:
    return F.expr(_is_word_sql(_ident(name)))


def is_stop_col(name: str) -> Column:
    return F.expr(_is_stop_sql(_ident(name)))


def maybe_word_col(name: str) -> Column:
    return F.expr(_maybe_word_sql(_ident(name)))


def is_clean_sent_col(name: str) -> Column:
    return F.expr(_is_clean_sent_sql(_ident(name)))


def is_noun_tag(t: Column) -> Column:
    return F.substring(t, 1, 1) == "N"


def is_verb_tag(t: Column) -> Column:
    return F.substring(t, 1, 1) == "V"


def node_order_key(kind: Column, key: Column) -> Column:
    """Pinned deterministic tie-break key: sentence ids compare numerically
    (zero-padded), word keys lexically; kind 'S' sorts before 'W'."""
    return F.when(kind == "S", F.lpad(key, 20, "0")).otherwise(key)
