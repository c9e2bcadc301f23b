"""The SQL-text recognizers in functions/predicates.py equal the row-at-a-time
reference mirrors in oracle/textgraph.py, word for word, and stay cheap to
build on the driver."""

from deeprank_spark.functions.predicates import (
    in_dict_col,
    is_clean_sent_col,
    is_stop_col,
    maybe_word_col,
)
from deeprank_spark.oracle.textgraph import in_dict_ref, is_clean_sent, maybe_word
from deeprank_spark.wordlist import STOP_WORDS, WORD_SET, is_stop_word


def _words():
    base = sorted(WORD_SET | STOP_WORDS)
    words = list(base)
    words += [w.upper() for w in base] + [w.capitalize() for w in base]
    # suffix heuristics: -s stems, the ends-well suffixes, near misses
    words += [w + "s" for w in base[::7]]
    words += [
        "running", "walked", "ability", "quickly", "walker", "fastest",
        "runnings", "walkeds", "quicklys", "xyzs", "xs", "s", "ss", "ing",
        "Ings", "qzx", "xkcd", "zzq", "Zzq", "ZZQ",
    ]
    # dashed compounds: every part must pass, no empty parts
    words += [
        "well-known", "state-of-the-art", "a-b", "x-qzx", "qzx-qzx",
        "-x", "x-", "--", "foo--bar", "Mr.-x", "1-2", "Zzq-Zzq", "don't-stop",
    ]
    # punctuation the tokenizer emits, specials, names and numbers
    words += [*",.?;:-'()", '"', "!", "...", "'s", "a", "A", "I", "i",
              "Mr.", "x.", "Qzx", "Q1", "q1", "7", "123", "12a", "''"]
    # multi-character punctuation: maybeWord tests substrings of ",.?;:-'()"
    words += [",.", "()", ":-", "-'"]
    return words + ["", None]


def _truth(v) -> bool:
    # a NULL predicate filters like false
    return bool(v)


def test_word_predicates_match_reference(spark):
    words = _words()
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "i int, w string")
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            in_dict_col("w").alias("in_dict"),
            is_stop_col("w").alias("stop"),
            maybe_word_col("w").alias("maybe"),
        ).collect()
    }
    bad = []
    for i, w in enumerate(words):
        r = got[i]
        exp = (
            (in_dict_ref(w), is_stop_word(w), maybe_word(w)) if w
            else (False, False, False)
        )
        have = (_truth(r["in_dict"]), _truth(r["stop"]), _truth(r["maybe"]))
        if have != exp:
            bad.append((w, have, exp))
    assert not bad, bad[:20]


def test_clean_sent_matches_reference(spark):
    words = [w for w in _words() if w]
    sents = [words[i:i + 3 + i % 3] for i in range(0, len(words), 4)]
    sents += [
        ["the", "cat", "sat"], ["the", "cat"], [], ["the", "", "sat"],
        ["the", None, "sat"], ["the", "qzx", "sat"], ["a", "well-known", "fact"],
        ["Zzq.", "7", "!"], ["I", ",", "don't"],
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sents)], "i int, lemmas array<string>"
    )
    got = {
        r["i"]: _truth(r["ok"])
        for r in df.select("i", is_clean_sent_col("lemmas").alias("ok")).collect()
    }
    bad = [(s, got[i]) for i, s in enumerate(sents) if got[i] != is_clean_sent(s)]
    assert not bad, bad[:20]
    assert any(got.values()) and not all(got.values())


def test_predicate_build_is_constant_round_trips(spark, monkeypatch):
    """Building a predicate costs a handful of py4j round trips, not a few
    per IN-list value (the isin form cost ~1,700 for in_dict_col)."""
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    is_clean_sent_col("lemmas")
    n_clean = len(calls)
    in_dict_col("w")
    monkeypatch.undo()
    assert 0 < n_clean < 50, n_clean
    assert len(calls) - n_clean < 50, len(calls)


def test_duckdb_maybe_word_matches_reference():
    """The DuckDB mirror of maybeWord in oracle/sqlgen.py equals the
    row-at-a-time reference on the same inputs."""
    import duckdb
    import pandas as pd

    from deeprank_spark.oracle.sqlgen import _maybe_word_sql

    words = _words()
    t = pd.DataFrame({"i": range(len(words)), "w": words})
    con = duckdb.connect()
    con.register("t", t)
    got = dict(con.execute(f"SELECT i, {_maybe_word_sql('w')} FROM t").fetchall())
    bad = [(w, got[i]) for i, w in enumerate(words) if _truth(got[i]) != maybe_word(w)]
    assert not bad, bad[:20]
