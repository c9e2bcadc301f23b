"""The one runner behind every per-conversation graph kernel.

Each conversation is an independent graph (the reference ranks each
document's text graph on its own, deepRank.py:535), so PageRank, weak and
strong components, label propagation, triangle counts, HITS and the
centrality kernels all share one physical shape: ONE hash repartition on
conv_id, then `mapInPandas`. Inside a partition a stable argsort on conv_id
groups the conversations, each conversation's nodes are indexed with one
`np.unique` over its `kind + key` tokens, and the kernel runs on integer
edge arrays. The pandas/Arrow framing is paid once per PARTITION, not once
per conversation group as `groupBy(...).applyInPandas` pays it: at 30-turn
conversation sizes that is the difference between ~5 ms/conv of framework
cost and ~0.3 ms/conv of numpy (~2.4x on the 30k-conversation flagship
ranks stage).

Token encoding, decided here once: the kind is one character and a node's
token is `kind + key`, so a token splits back positionally. `np.unique`
sorts, so node-index order equals token order and a min-index component
label (`nodes[min index]`) is the min-token label the networkx oracles
compare against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType


def per_conv_schema(fields: list) -> StructType:
    """(conv_id, kind, key, *fields) — the output schema of every
    per-conversation kernel."""
    keys = [StructField(c, StringType(), False) for c in ("conv_id", "kind", "key")]
    return StructType(keys + list(fields))


def _run_partition(batches, kernel, names: list):
    chunks = [b for b in batches if len(b)]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    conv = pdf["conv_id"].to_numpy()
    # stable sort: groups conversations and keeps each one's arrival order
    order = np.argsort(conv, kind="stable")
    conv = conv[order]
    skey = (pdf["src_kind"].astype(str) + pdf["src"].astype(str)).to_numpy()[order]
    dkey = (pdf["dst_kind"].astype(str) + pdf["dst"].astype(str)).to_numpy()[order]
    uniq, starts = np.unique(conv, return_index=True)
    bounds = np.append(starts, len(conv))
    out = {c: [] for c in ("conv_id", "kind", "key", *names)}
    for i, cid in enumerate(uniq):
        a, b = bounds[i], bounds[i + 1]
        m = b - a
        nodes, inv = np.unique(
            np.concatenate([skey[a:b], dkey[a:b]]), return_inverse=True
        )
        n = len(nodes)
        try:
            values = kernel(inv[:m], inv[m:], n, nodes)
        except Exception as exc:
            raise RuntimeError(f"conversation {cid}: {exc}") from exc
        out["conv_id"].append(np.full(n, cid, dtype=object))
        out["kind"].append(np.array([s[0] for s in nodes], dtype=object))
        out["key"].append(np.array([s[1:] for s in nodes], dtype=object))
        for name, v in zip(names, values):
            out[name].append(v)
    yield pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})


def per_conv_map(gedges: DataFrame, kernel, fields: list) -> DataFrame:
    """(conv_id, kind, key, *fields) for every conversation graph.

    gedges: (conv_id, src_kind, src, dst_kind, dst) edge pairs; duplicate
    edges and self-loops reach the kernel as given.
    kernel(src_idx, dst_idx, n, nodes): integer edge ends into the sorted
    token array `nodes` of length n; returns one length-n array per field,
    in `fields` order (StructFields). A kernel error is re-raised with the
    conversation id. The partition count is spark.sql.shuffle.partitions."""
    P = int(gedges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    names = [f.name for f in fields]

    def run(batches):
        yield from _run_partition(batches, kernel, names)

    return (
        gedges.select("conv_id", "src_kind", "src", "dst_kind", "dst")
        .repartition(P, "conv_id")
        .mapInPandas(run, per_conv_schema(fields))
    )
