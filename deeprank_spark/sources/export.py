"""Fact-database export sink (the reference's S9 Prolog export, relational).

The reference serializes each digested document as ~9 Prolog fact relations
(writers /root/reference/deep_talk/qpro.py:166-260,373-400; schema documented
in pdfs/logrank.txt:338-351): dep/6, edge/6, rank/2, w2l/3, sent/2, ner/2,
svo/4, summary/2, keyword/1. Here the whole export is `write_table` of 9
DataFrames — one per relation, every row keyed by conv_id, partitioned by
bucket(conv_id) so a conversation's facts are co-located (the Prolog
file-per-document layout becomes partition-pruned reads).

The nine writes are independent, so they are submitted together from a
thread pool, one thread per relation — Spark's "multiple parallel jobs from
separate threads" pattern. Planning a write is driver-serial work; while one
relation is being planned, the FIFO scheduler runs the others' tasks on the
idle cores. Each worker is wrapped in `inheritable_thread_target`, so its
JVM thread carries the caller's local properties: the job group (callers
attribute and cancel the export's jobs by it), description and scheduler
pool would otherwise be lost in the pool's fresh threads. Every write runs
to completion; the first failure, in RELATIONS order, is then re-raised.

NER divergence (documented): the reference calls CoreNLP NER
(qpro.py:155-162, keep tag != 'O'). No NER model exists in this container,
so `ner_table` emits a deterministic rule NER (capitalized non-initial
token -> NAME, all-digit -> NUMBER) — same relation shape, swap the rule
column for a model UDF on a real cluster.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.util import inheritable_thread_target

from ..engine import Digest
from .tables import read_table, write_table

RELATIONS = (
    "dep", "edge", "rank", "w2l", "sent", "ner", "svo", "summary", "keyword"
)


def dep_table(parsed: DataFrame) -> DataFrame:
    """dep/6 (+conv_id): raw dependency triples per sentence."""
    return parsed.select(
        "conv_id", "sent_id", F.posexplode("deps").alias("dep_idx", "d")
    ).select(
        "conv_id",
        "sent_id",
        F.col("d.fw").alias("from_word"),
        F.col("d.ftag").alias("from_tag"),
        F.col("d.rel").alias("rel"),
        F.col("d.tw").alias("to_word"),
        F.col("d.ttag").alias("to_tag"),
    )


def sent_table(parsed: DataFrame) -> DataFrame:
    """sent/2 (+conv_id): sentence id -> reconstructed text."""
    return parsed.select(
        "conv_id", "sent_id", F.concat_ws(" ", "words").alias("sent_text")
    )


def ner_table(tokens: DataFrame) -> DataFrame:
    """ner/2 (+conv_id, sent_id): deterministic rule NER (see module doc)."""
    tagged = tokens.select(
        "conv_id",
        "sent_id",
        "word",
        F.when(
            (F.col("pos") > 0) & F.col("word").rlike("^[A-Z][A-Za-z0-9]*$"),
            F.lit("NAME"),
        )
        .when(F.col("word").rlike("^[0-9]+$"), F.lit("NUMBER"))
        .otherwise(F.lit("O"))
        .alias("ner_tag"),
    )
    return tagged.where(F.col("ner_tag") != "O").distinct()


def export_fact_db(
    d: Digest,
    ranks: DataFrame,
    summary: DataFrame,
    keywords: DataFrame,
    base: str,
    num_buckets: int = 64,
) -> dict[str, DataFrame]:
    """Write the 9 fact relations under `base` (parquet dirs or Iceberg
    tables named f'{base}_{rel}'). Returns the relation DataFrames."""
    rels = {
        "dep": dep_table(d.parsed),
        "edge": d.multi_edges,  # edge/6 + sent_id (src/dst tags preserved)
        "rank": ranks.select("conv_id", "kind", "key", "rank"),
        "w2l": d.w2l.select("conv_id", "word", "lemma", "tag").distinct(),
        "sent": sent_table(d.parsed),
        "ner": ner_table(d.tokens),
        "svo": d.svo.select("conv_id", "subj", "verb", "obj", "sent_id"),
        "summary": summary.select("conv_id", "turn_idx", "sent_text"),
        "keyword": keywords.select("conv_id", "keyword"),
    }
    sep = "_" if _is_table_name(base) else "/"

    def write(name: str) -> None:
        write_table(rels[name], f"{base}{sep}{name}", bucket_col="conv_id",
                    num_buckets=num_buckets)

    spark = d.parsed.sparkSession
    with ThreadPoolExecutor(max_workers=len(rels)) as pool:
        # one wrap per write: each clones the caller's properties, so the
        # writes' SQL execution ids never share one mutable Properties
        futures = [
            pool.submit(inheritable_thread_target(spark)(write), name)
            for name in rels
        ]
    for fut in futures:  # the pool has joined: every write has finished
        fut.result()
    schemas = {name: df.schema.json() for name, df in rels.items()}
    if not _is_table_name(base):
        # self-describing export: schemas survive even for relations that
        # were empty at write time (Iceberg tables carry their own schema)
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, "_schemas.json"), "w") as f:
            json.dump(schemas, f)
    return rels


def read_fact_db(spark: SparkSession, base: str) -> dict[str, DataFrame]:
    sep = "_" if _is_table_name(base) else "/"
    schemas = {}
    if not _is_table_name(base):
        meta = os.path.join(base, "_schemas.json")
        if os.path.exists(meta):
            with open(meta) as f:
                schemas = {
                    k: StructType.fromJson(json.loads(v))
                    for k, v in json.load(f).items()
                }
    out = {}
    for name in RELATIONS:
        schema = schemas.get(name)
        if schema is not None:
            # exports carry an explicit bucket partition column
            schema = StructType(
                list(schema.fields) + [StructField("bucket", LongType(), True)]
            )
        out[name] = read_table(spark, f"{base}{sep}{name}", schema=schema)
    return out


def _is_table_name(base: str) -> bool:
    return "/" not in base and "\\" not in base
