"""UDF kernel measures: the Python bodies behind the extract and embed
UDFs, timed in this one process on a fixed seeded batch of turns, apart
from Spark scheduling and Arrow transfer."""

from __future__ import annotations

import statistics
import time

import pandas as pd

from hikma_engine_spark import extraction
from hikma_engine_spark.functions import embeddings

BATCH_TURNS = 4000
ARROW_BATCH = 1000  # rows per pandas batch handed to the bodies
REPS = 3


def _batches(pdf: pd.DataFrame):
    for i in range(0, len(pdf), ARROW_BATCH):
        yield pdf.iloc[i:i + ARROW_BATCH]


def measure(corpus: pd.DataFrame, seed: int) -> dict[str, float]:
    batch = corpus.sample(n=min(BATCH_TURNS, len(corpus)), random_state=seed)
    batch = batch[["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    ext, emb = [], []
    for _ in range(REPS):
        t0 = time.perf_counter()
        for _out in extraction.extract_mentions_batch(_batches(batch)):
            pass
        ext.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _out in embeddings._embed_batches(  # noqa: SLF001 -- the UDF body itself
            b["text"] for b in _batches(batch)
        ):
            pass
        emb.append(time.perf_counter() - t0)
    n = len(batch)
    return {
        "extract.udf_turns_per_s": n / statistics.median(ext),
        "embed.udf_turns_per_s": n / statistics.median(emb),
    }
