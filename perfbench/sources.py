"""Seeded benchmark inputs, cached on disk per (kind, size, seed).

Every generator is a pure function of its seed and size: the same seed
gives byte-identical parquet, so a re-run with a seed finds its inputs in
the cache and skips generation. Files are written to a temp directory and
renamed into place, so an interrupted run never leaves a half-written input.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from mrmr_spark.sources.transcripts import write_transcripts_parquet

#: per-kind cache entries kept on disk; older seeds are pruned
KEEP_PER_KIND = 3

_VOCAB = np.array(
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window".split()
)


def _row_groups(n: int, parts: int = 8) -> int:
    """Row-group size giving ``parts`` groups: the row group is Spark's
    scan-split unit, so a single-group file would scan on one core."""
    return max(1, -(-n // parts))


def write_transcripts(dir_: str, seed: int, n_convs: int) -> None:
    path = os.path.join(dir_, "transcripts.parquet")
    # ~30 turns per conversation on average; 8 row groups for 4 cores
    write_transcripts_parquet(
        path, row_group_size=_row_groups(n_convs * 30), n_convs=n_convs,
        mean_turns=30, seed=seed,
    )


def wide_columns(p: int) -> list[str]:
    return [f"x{i:03d}" for i in range(p)]


def write_wide(dir_: str, seed: int, n_rows: int, p: int) -> None:
    """Planted-structure selection matrix: 8 informative columns, p/3
    redundant columns (noisy rescaled copies of informative ones) and pure
    noise, shuffled into random column order. Two regression targets and a
    group id for group-CV."""
    rng = np.random.default_rng(seed)
    n_inf, n_red = 8, p // 3
    inf = rng.standard_normal((n_rows, n_inf))
    src = rng.integers(0, n_inf, n_red)
    red = inf[:, src] * rng.uniform(0.5, 1.5, n_red) + 0.4 * rng.standard_normal((n_rows, n_red))
    noise = rng.standard_normal((n_rows, p - n_inf - n_red))
    X = np.hstack([inf, red, noise])[:, rng.permutation(p)]
    coef = rng.uniform(0.3, 1.0, n_inf)
    pdf = pd.DataFrame(X, columns=wide_columns(p))
    pdf["y_reg1"] = inf @ coef + 0.5 * rng.standard_normal(n_rows)
    pdf["y_reg2"] = np.tanh(inf[:, :4]).sum(axis=1) + 0.5 * rng.standard_normal(n_rows)
    pdf["group_id"] = rng.integers(0, 200, n_rows).astype(np.int64)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(dir_, "wide.parquet"),
        row_group_size=_row_groups(n_rows),
    )


def write_documents(dir_: str, seed: int, n_docs: int) -> None:
    """A ``documents`` table (``doc_id``, ``text``: the columns the gate
    queries read) fitted to the sf0.01 and sf0.1 driver test tables
    (NOTES.md, "The documents table"): 10-99 words drawn uniformly from a
    30-word vocabulary, and one doc in 20 overwritten, in turn, by the text
    of a random other doc plus a trailing ``dup`` token. The copies are
    what ``duplicate_spans`` finds. One row group, as in the driver tables."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 100, n_docs)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    for dst in rng.choice(n_docs, n_docs // 20, replace=False):
        src = rng.integers(0, n_docs - 1)
        texts[dst] = texts[src + (src >= dst)] + " dup"
    docs = pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": texts})
    pq.write_table(docs, os.path.join(dir_, "documents.parquet"))


def cached_inputs(cache_root: str, kind: str, seed: int, size: dict, writer) -> tuple[str, float]:
    """Return ``(dir, generate_s)``: the input directory for this kind, size
    and seed, generating it first when it is not cached (``generate_s`` is
    0.0 on a cache hit)."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    kind_root = os.path.join(cache_root, kind)
    final = os.path.join(kind_root, f"{tag}-s{seed}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    writer(tmp, seed, **size)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    generate_s = time.perf_counter() - t0
    entries = sorted(
        (os.path.join(kind_root, e) for e in os.listdir(kind_root)),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_PER_KIND]:
        shutil.rmtree(old, ignore_errors=True)
    return final, generate_s
