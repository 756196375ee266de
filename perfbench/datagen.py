"""Deterministic input tables for the ``llm_operators`` workload.

``part``, ``documents`` and ``embeddings`` with the schemas the engine's
catalog declares (``r_e_hive__spark.schemas.TESTDATA_SCHEMAS``), one
parquet file per table with one row group, as the repository's test data
has them.  Row counts scale with ``sf`` the same way (part = 200k x sf;
documents and embeddings never below 500).  Values are uniform draws from
fixed vocabularies; about 5% of the documents are near-duplicates (an
earlier document plus " dup"), which is what the near-duplicate
operators look for; embeddings are unit-norm Gaussian vectors.

The data is fixed: every run of every seed reads the same tables, built
from a constant generator seed.  The benchmark's ``--seed`` drives the
query order, not the data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(_WORDS, int(rng.integers(10, 95)))
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The tables the LLM-operator queries read, at scale ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_part = int(200_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    part = {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    embeddings = {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    }
    return {
        "part": pa.table(part),
        "documents": pa.table(_documents(rng, n_doc)),
        "embeddings": pa.table(embeddings),
    }


def ensure_data(root: str, sf: float) -> str:
    """Directory holding every table at ``sf``, generated on first use.

    The directory appears only once complete (written beside it, then
    renamed), so an interrupted generation is redone, never half-read."""
    out = os.path.join(root, f"sf{sf:g}")
    if os.path.isdir(out):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"), row_group_size=table.num_rows
        )
    os.replace(tmp, out)
    return out
