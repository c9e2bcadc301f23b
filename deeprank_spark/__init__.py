"""deeprank_spark — a from-scratch, PySpark-native link-graph analytics engine.

Rebuilds the query/data-processing capabilities of the reference text-graph
mining pipeline (ptarau/DeepRank, studied at /root/reference) as idiomatic
Spark DataFrame dataflow:

- transcripts (conv_id, turn_idx, role, text, tool, ts) -> deps -> edges
  (Catalyst expression pipeline, no per-row Python in the hot path)
- graph kernels: PageRank (damped 0.85, power iteration, networkx-equivalent
  semantics to allclose 1e-6), connected components (hash-min + pointer
  jumping), strongly connected components (FW-BW + partition refinement),
  label propagation, triangle count, unweighted/weighted SSSP, k-core /
  coreness / clustering / butterflies / link prediction — each with a
  per-conversation Arrow/numpy fast path (one shared runner,
  operators/per_conv.py: a conv_id repartition + mapInPandas, one shuffle
  total) where applicable and a distributed superstep path (SpMV join/agg
  loop with salting). EVERY iterative kernel checkpoints its rank/label
  state per superstep with a per-partition lineage table and resumes from
  the newest complete round (operators/superstep.py; jobs/run_kernels.py
  drives any of them under spark-submit with --checkpoint-dir/--resume).
- extraction: keywords / summary / SVO relations per conversation,
  personalized query re-ranking (reference entry point C).
- training-data ops: exact/MinHash-LSH/SimHash/n-gram/exact-substring/
  semantic dedup, embedding similarity search (brute/LSH/IVF), corpus
  curation (decontamination, repetition, stratified mixes), document
  chunking + concat-and-cut sequence packing, text quality stats, PII
  redaction, multimodal column plumbing, streaming windows / sessionize /
  stateful as-of enrichment.
"""

__version__ = "0.5.0"
