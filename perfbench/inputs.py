"""Seeded input generators.  The same seed gives byte-identical inputs; the
engine only ever sees the files (or DataFrames) generated here.

* ``write_iiot_wire_drop`` -- the reference producer's backfill (the
  engine's own ``sources.generator.generate_backfill``) serialized to the
  wire JSON with ``to_wire_json``, with a planted share of truncated,
  malformed payloads; written as JSON-lines text files.
* ``document_corpus`` -- the curator's documents, with planted exact
  duplicates, near-duplicates, a shared boilerplate span and quality-gate
  stubs, in the shape of ``tools/curation_e2e_probe.synth_docs`` but seeded.
* ``mix_order`` -- the order in which the analyst issues the mix queries.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# IIoT wire drop
# --------------------------------------------------------------------------

#: Backfill end instant; the drop covers ``days`` days before it.
IIOT_END = datetime(2024, 1, 8, 6, tzinfo=timezone.utc)
#: One in CORRUPT_EVERY payloads is truncated into malformed JSON.
CORRUPT_EVERY = 200


def write_iiot_wire_drop(spark, out_dir: str, seed: int, days: float, step_seconds: int) -> dict:
    """Write the wire drop as JSON-lines text under ``out_dir`` and return
    its ground truth: total lines, planted corrupt lines, decodable readings
    and the per-day reading counts (for the retention check).

    Which payloads are corrupted is a hash of (seed, payload), so the
    planted count is exact and seed-dependent."""
    from pyspark.sql import functions as F

    from iiot_data_engineering_lab_assignment_spark.sources.generator import (
        generate_backfill,
        to_wire_json,
    )

    readings = generate_backfill(
        spark, end=IIOT_END, days=days, step_seconds=step_seconds, seed=seed
    )
    wire = to_wire_json(readings)
    bad = F.pmod(F.xxhash64(F.lit(seed), F.col("value")), F.lit(CORRUPT_EVERY)) == 0
    lines = wire.select(
        F.when(bad, F.expr("substring(value, 1, length(value) - 9)"))
        .otherwise(F.col("value"))
        .alias("value"),
        bad.alias("bad"),
        F.to_date(F.get_json_object("value", "$.timestamp")).alias("day"),
    ).localCheckpoint()
    lines.select("value").write.mode("overwrite").text(out_dir)
    truth = lines.groupBy("day", "bad").count().collect()
    corrupt = sum(r["count"] for r in truth if r["bad"])
    per_day: dict[str, int] = {}
    for r in truth:
        if not r["bad"]:
            per_day[str(r["day"])] = per_day.get(str(r["day"]), 0) + r["count"]
    total = sum(r["count"] for r in truth)
    return {
        "lines": total,
        "corrupt": corrupt,
        "decoded": total - corrupt,
        "per_day": per_day,
    }


# --------------------------------------------------------------------------
# Document corpus
# --------------------------------------------------------------------------

VOCAB = [
    "spark", "query", "join", "scan", "merge", "sort", "window", "stream",
    "batch", "row", "column", "table", "filter", "group", "value", "key",
    "data", "fast", "slow", "small", "large", "hash", "index", "cache",
    "shuffle", "broadcast", "partition", "cluster", "node", "task",
]

#: Planted shares of the corpus (each drawn per document from the seed).
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
BOILER_SHARE = 1 / 7
STUB_SHARE = 1 / 23


def document_corpus(seed: int, n: int) -> list[tuple[int, str]]:
    """``n`` documents as (doc_id, text).

    Bodies are 40-69 tokens over a 30-word vocabulary.  Planted work for
    dedup stage: exact copies of an earlier document (fingerprint
    dedup), near-duplicates that append one token to an earlier document
    (LSH keep-best, leakage components), a shared 55-token boilerplate span
    appended to about one in seven documents (span removal), and 5-token
    stubs that fail the quality gate."""
    rng = np.random.default_rng([seed, 0xC0])
    boiler_rng = np.random.default_rng([seed, 0xB0])
    boiler = " ".join(VOCAB[i] for i in boiler_rng.integers(0, len(VOCAB), 55))
    kind = rng.random(n)
    lengths = rng.integers(40, 70, n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    with_boiler = rng.random(n) < BOILER_SHARE
    docs: list[str] = []
    for i in range(n):
        k = kind[i]
        if i > 0 and k < EXACT_DUP_SHARE:
            text = docs[src[i]]
        elif i > 0 and k < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            text = docs[src[i]] + " extratoken"
        elif k > 1 - STUB_SHARE:
            text = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 5))
        else:
            text = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), lengths[i]))
            if with_boiler[i]:
                text = text + " " + boiler
        docs.append(text)
    return list(enumerate(docs))


def write_corpus(docs: list[tuple[int, str]], out_dir: str) -> str:
    """Write the corpus as ``documents.parquet`` (the fixture table name the
    engine's readers and the registry oracle use); returns the directory."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# Analytics-mix order
# --------------------------------------------------------------------------


def mix_order(seed: int, round_queries: list[str], rounds: int) -> list[str]:
    """``rounds`` rounds of the mix, each a seeded permutation of
    ``round_queries`` (a query listed k times is issued k times a round)."""
    rng = np.random.default_rng([seed, 0x0D])
    order: list[str] = []
    for _ in range(rounds):
        order.extend(round_queries[i] for i in rng.permutation(len(round_queries)))
    return order
