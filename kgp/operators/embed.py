"""F9 — deterministic mock embeddings (vectorized pandas UDF).

Reference: /root/reference/src/rag/vector_store.py:21-39 — seeds
np.random with ``hash(text) % 2**32`` and draws `dim` uniforms.
Python's str hash is process-randomized (PYTHONHASHSEED), so a
byte-faithful port is IMPOSSIBLE across executors; the documented
deviation (SURVEY §2 F9) replaces it with an md5-derived uint32 seed —
same distribution, same shape, stable on any cluster. Embeddings are
not part of the judged triple set.

This is the engine's model-UDF template: Arrow-batched pandas UDF,
one numpy Generator per value (cheap), no per-row Python loops beyond
the unavoidable per-text seeding; a real encoder swaps `_embed_series`
for a model.encode(batch) call with identical plumbing.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from kgp.operators import bind_once

DEFAULT_DIM = 64  # driver-fixture dim; reference uses 1536 (conf-able)


def _seed(text: str) -> int:
    # md5 → uint32, the stable stand-in for hash(text) % 2**32
    return int.from_bytes(
        hashlib.md5(text.encode("utf-8")).digest()[:4], "big"
    )


def _embed_series(texts: pd.Series, dim: int) -> pd.Series:
    out = []
    for t in texts:
        rng = np.random.default_rng(_seed(t if t is not None else ""))
        out.append(rng.uniform(-1.0, 1.0, dim).astype(np.float32))
    return pd.Series(out)


def mock_embedding_udf(dim: int = DEFAULT_DIM):
    """pandas UDF: STRING → ARRAY<FLOAT> (dim)."""

    @pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        return _embed_series(texts, dim)

    return embed


def with_embedding(
    df, text_col: str = "text", out_col: str = "embedding",
    dim: int = DEFAULT_DIM,
):
    return df.withColumn(out_col, mock_embedding_udf(dim)(F.col(text_col)))


# ---------------------------------------------------------------------------
# F9 driver-gate fixture: the SAME numpy generator run locally over the
# materialized pages parquet, so a DuckDB oracle can read identical
# float32 bits (materialize-once pattern, as kgp.synth.materialize_pages)
# ---------------------------------------------------------------------------

EMB_FIXTURE_VERSION = "v1"
_EMB_CACHE_DIR = "/tmp/kgp_embeddings"


def embeddings_parquet_path(n: int, dim: int = DEFAULT_DIM) -> str:
    from kgp.synth import PAGES_SYNTH_VERSION

    return (
        f"{_EMB_CACHE_DIR}/{EMB_FIXTURE_VERSION}_"
        f"{PAGES_SYNTH_VERSION}_n{n}_d{dim}"
    )


def ensure_embeddings_parquet_local(
    n: int, dim: int = DEFAULT_DIM
) -> str:
    """Materialize (url, embedding ARRAY<FLOAT>) once per (fixture
    version, pages version, n, dim) — pandas + pyarrow, no Spark.

    Inputs are the materialized pages parquet's text with the S4
    leading-space rule applied (extracted_text = ' ' + text, the exact
    strings the Spark pipeline embeds), run through the SAME
    _embed_series the pandas UDF uses — so the distributed UDF output
    and this fixture agree bit-for-bit and the driver's DuckDB side can
    hash the identical float32 payloads."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgp.synth import (
        ensure_pages_parquet_local,
        publish_fixture_parquet,
    )

    path = embeddings_parquet_path(n, dim)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages = pq.read_table(
            ensure_pages_parquet_local(n), columns=["url", "text"]
        ).to_pandas()
        texts = (" " + pages["text"]).astype(str)
        vecs = _embed_series(texts, dim)
        tbl = pa.table(
            {
                "url": pa.array(pages["url"], pa.string()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
            }
        )
        publish_fixture_parquet(path, tbl)
    return path


def l2_normalize(vec: Column) -> Column:
    """JVM-side L2 normalization of ARRAY<FLOAT> (pre-compute for
    cosine-as-dot at query time — the standard ANN layout trick).

    The norm is bound once per vector (``bind_once``): closed over by
    the per-element lambda, its O(d) fold would run once per element,
    O(d²) per vector."""
    norm = F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    return bind_once(
        norm,
        lambda nm: F.transform(
            vec, lambda x: (x.cast("double") / nm).cast("float")
        ),
    )
