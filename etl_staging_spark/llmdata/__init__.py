"""LLM-training-data pipeline operators over the documents/embeddings tables.

Four operator families the reference lacks but a 100 TB training-data
pipeline needs (builder brief, BASELINE north star):

- deduplication: exact (sha2 groupBy), n-gram Jaccard (shingle
  inverted index), MinHash+LSH banding (the scale path) with a
  persisted bucketed signature index for incremental batch/stream
  ingest, SimHash + Hamming pairing, embedding-cosine (sign-LSH) and
  SemDeDup-style IVF-cell semantic dedup, connected-component cluster
  assignment — :mod:`.dedup`, :mod:`.cluster`
- retrieval: brute-force cosine top-k baseline, sign-LSH and IVF ANN
  (:mod:`.simsearch`); BM25 lexical top-k with a term-bucketed
  persisted inverted index (:mod:`.lexsearch`)
- text analysis: quality scoring, language-ID n-gram heuristic,
  tokenizer-ish counting, document fingerprinting, Gopher repetition
  gates (:mod:`.textstats`); benchmark decontamination — exact n-gram,
  fuzzy MinHash, and semantic embedding-cosine — and per-source
  boilerplate flagging (:mod:`.decontam`); corpus text normalization
  and hash-key folding (:mod:`.textclean`); PII masking (:mod:`.pii`)
- corpus assembly: deterministic hash splits, mixture down-sampling
  and epoch up-sampling, per-domain quality budgets, shard +
  training-order assignment (:mod:`.sampling`); sequence packing
  (:mod:`.packing`); HLL/GK approximate corpus stats plus the exact
  planning reports — cross-source duplication matrix and quality-gate
  calibration (threshold-for-keep-rate + per-rate card)
  (:mod:`.stats`)
- multimodal plumbing: opaque binary payloads + Arrow-batched
  Pandas-UDF decode (decode itself stubbed deterministically; the
  image/audio libs are not in this container) — :mod:`.multimodal`
- the fluent front door: :class:`.pipeline.CorpusPipeline` chains the
  certified stages (clean, dedup exact/near/semantic — min-id or
  best-quality canonicals — decontaminate n-gram/fuzzy/semantic, language
  filter, quality/
  repetition/LM gates — fixed-floor or keep-rate-calibrated — segment
  clean, domain cap, split, mixture, epochs) through to the
  `to_training_set` terminal (verified shards on disk) —
  :mod:`.pipeline`

Everything hot-path is native ``pyspark.sql.functions`` (JVM,
whole-stage codegen) except three Arrow-batched Python kernels: the
mapInPandas multimodal decode, and simsearch's two pandas UDFs
(``_mt_keys_udf`` for multi-table sign-LSH keys, ``_ivf_cells_udf`` for
IVF probe cells — one numpy matmul per batch each).

Cross-engine determinism: hash-derived values use
:func:`etl_staging_spark.llmdata.hashing.portable_hash56` — the low
56 bits of md5, computable identically in Spark (md5+conv), DuckDB
(md5_number_lower % 2^56) and Python (hashlib) — so even the
probabilistic operators (MinHash bands, LSH buckets) are exactly
reproducible by the DuckDB oracle.
"""
