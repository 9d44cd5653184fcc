"""kafka_workers_spark — a PySpark-native streaming/analytics engine.

A from-scratch re-expression of the capabilities of RTBHOUSE/kafka-workers
(a JVM Kafka stream-processing library; see /root/reference) on top of
Apache Spark: Structured Streaming for the dataflow/stream surface, the
DataFrame/SQL API (Catalyst + Tungsten) for the relational surface, plus
large-scale training-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis).

Design stance (SURVEY.md §7): declare logical plans with DataFrame/SQL and
let Catalyst pick physical strategies; Pandas UDFs only where built-ins
cannot express the semantics; no driver-side per-record loops; everything
partitions and scales to a multi-executor cluster even though tests run on
local[N].
"""

from kafka_workers_spark.session import WorkersConfig, _install_zip_stat_check, build_session

_install_zip_stat_check()

__version__ = "0.1.0"

__all__ = ["WorkersConfig", "build_session", "__version__"]

# Public surface map (import from the submodules):
#   sources.files       — batch/stream readers over parquet test tables
#   sources.kafka       — Kafka reader/sink builders (connector jar req'd)
#   streaming.subpartition — WorkerPartitioner parity (A2)
#   streaming.tasks     — stateless tasks + delivery guarantees (A4/A10)
#   streaming.stateful  — per-key WorkerTask with punctuate (A5/A11)
#   streaming.merge     — time-aware ordered merge (A16)
#   streaming.offsets   — commit-prefix semantic model (A6 oracle)
#   streaming.lifecycle — status machine, deadline, metrics (A14/A9/A15)
#   streaming.sinks     — foreachBatch / exactly-once sinks
#   streaming.gate      — generic accept gate (A3) + record deadline (A9)
#   streaming.dedup     — watermark-bounded streaming dedup
#   streaming.dedup_index — stored LSH band index for incremental
#                         near-dedup: log-structured delta-per-batch
#                         store + compaction; dedup_index_fold runs the
#                         full ingest loop (pair deltas → components
#                         fold → index append) with lineage + crash heal
#   streaming.drift     — live z² / median-MAD / CUSUM volume screens
#                         (WorkerTask state machines, live == batch ==
#                         relational pinned)
#   streaming.components — live components-store maintenance (star-merge
#                         folds under the maintenance marker contract)
#   streaming.weigher   — record-weight model + admission sizing (A8)
#   operators.{relational,dedup,components,similarity,text,multimodal,
#              scoring,classify,drift} — DataFrame operators (directional
#                         as-of/range/salted joins, dedup families incl.
#                         global paragraph dedup + PII redaction +
#                         PassJoin edit-distance pairs, connected
#                         components, ANN/IVF/RHP-LSH + SemDeDup-style
#                         semantic_dedup + int8 quantization,
#                         quality rules, winnowing, chunking, sparse
#                         TF-IDF search (tfidf_topk), DSIR importance
#                         weighting + Gumbel-top-k resampling
#                         (dsir_weights/dsir_resample), word2phrase
#                         collocation mining (phrase_scores), hashed
#                         multinomial Naive Bayes (nb_train/nb_classify),
#                         binary columns, Arrow-batched model scoring)
#   pipeline            — corpus curation / training-mix composition:
#                         batch + streaming curation, stream→batch
#                         compaction, incremental dedup index, leakage-
#                         safe splits, quality sampling, mixture solving,
#                         packing, deterministic shuffling, snapshot diff,
#                         per-key caps (cap_per_key), Bloom-backed
#                         decontamination (eval_digest_bloom +
#                         decontaminate_with_bloom), UniMax epoch-capped
#                         budget waterfilling (unimax_allocation)
#   functions           — deterministic aggregation helpers + mergeable
#                         sketches (HLL rollups, quantiles, heavy hitters,
#                         Misra-Gries frequent items, skew reports, Bloom
#                         membership filters: bloom_build/probe/merge,
#                         count-min frequency sketches: cms_build/probe/
#                         merge)
#   plans               — physical-plan audits (pushdown/broadcast/codegen)
#                         + assert_scale_safe pre-flight guard
#   queries             — the oracle-checked query registry (driver gate)
