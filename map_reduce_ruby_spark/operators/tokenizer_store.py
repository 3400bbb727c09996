"""Durable BPE tokenizer artifact: the persisted-index lifecycle applied
to the tokenizer family.

Every other trained artifact in the engine has a stored form (IVF cells /
PQ codes — operators/ann_index.py; MinHash bands — operators/
dedup_index.py; BM25 postings — operators/text_index.py). The tokenizer
was the last session-memoized holdout: ``text_bpe_encode`` retrains its
merges in every new session. This module persists the trainer's two
outputs — the learned merge list and the fully-encoded word vocabulary —
so a RESTARTED session (or the thousand encode-only executors of a real
tokenization run) encodes a corpus from parquet alone.

Unlike the ANN/BM25 indexes there is NO append path: BPE merges are a
global frequency argmax, so adding documents is a retrain by definition
(the industry practice too — tokenizers are versioned artifacts, frozen
per model generation, not incrementally maintained). The artifact is
therefore a ``GenerationStore`` without a data root (operators/
artifact_store.py): write-once/reload-many through the same build, exists
and load as the sibling stores, with a version/params gate in _META.json
so an artifact trained by older code or different step counts is a cache
MISS, never a silent stale load.

Layout:

    <root>/merges/*.parquet   (step, p, q, cnt)        -- provenance
    <root>/vocab/*.parquet    (word, w, toks)          -- the encode map
    <root>/_META.json         {format, version, steps}

Scale shape: the vocab table is the BOUNDED artifact (distinct words of
the training corpus, not corpus rows) the 100 TB encode broadcasts; the
corpus side stays one explode + broadcast-hash-join, identical to
text_bpe_encode's plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from map_reduce_ruby_spark.operators.artifact_store import (
    GenerationStore,
    _read_meta,
)

BPE_TOKENIZER_VERSION = 1

_BPE = GenerationStore(
    "BPE tokenizer", "write_bpe_tokenizer", None, ("merges", "vocab")
)


def _tok_meta(steps: int) -> dict:
    return {
        "format": "bpe_tokenizer",
        "version": BPE_TOKENIZER_VERSION,
        "steps": int(steps),
    }


def bpe_tokenizer_exists(path: str, steps: int) -> bool:
    """Fully committed (parquet _SUCCESS on both components) AND built by
    the CURRENT trainer with the same merge count."""
    return _BPE.exists(path, _tok_meta(steps))


def write_bpe_tokenizer(
    merges: DataFrame,
    vocab: DataFrame,
    path: str,
    steps: int,
    replace: bool = False,
) -> None:
    """Persist a trained tokenizer: (step, p, q, cnt) merges and the
    encoded (word, w, toks) vocabulary, through the generation store's
    build (the trainer is deterministic, so a valid existing artifact at
    the content-addressed path is the keep-winner). ``replace=True`` for
    retraining over different data at the same path (not reader-safe)."""

    def stage(_data_dir, tmp):
        merges.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "merges")
        )
        # the vocab is bounded (distinct training words) but not tiny: keep
        # the writer's natural parallelism, readers broadcast it anyway
        vocab.write.mode("overwrite").parquet(os.path.join(tmp, "vocab"))

    _BPE.build(path, _tok_meta(steps), stage, replace=replace)


def load_bpe_tokenizer(
    spark: SparkSession, path: str, steps: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(merges, vocab) read from storage — no training jobs. Raises on a
    missing artifact, a different trainer VERSION, or (when ``steps`` is
    given) a different merge count — a direct load must be as strict as
    the ``bpe_tokenizer_exists`` gate, or a caller that skips the gate
    (or races a concurrent replace=True retrain past it) silently gets a
    tokenizer trained with different parameters.

    ``steps=None`` accepts WHATEVER merge count the stored meta records
    (the check degrades to format+version — the meta's own ``steps`` is
    trivially equal to itself): use it only for introspection tools that
    genuinely accept any artifact at the path. A caller that trained (or
    expects) a specific tokenizer must pass its ``steps`` to get the full
    strict gate — the plan-facing entries all do."""
    if steps is None:
        steps = (_read_meta(path) or {}).get("steps", -1)
    return _BPE.load(
        spark,
        path,
        lambda _data, _meta: (
            spark.read.parquet(os.path.join(path, "merges")),
            spark.read.parquet(os.path.join(path, "vocab")),
        ),
        identity=_tok_meta(steps),
    )
