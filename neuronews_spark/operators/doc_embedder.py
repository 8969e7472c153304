"""Document embedder: hashed TF-IDF vectors from raw text.

Deterministic analog of the reference's sentence-transformers embedder
(``/root/reference/src/nlp/article_embedder.py:55-340``: batch-encode
articles → fixed-dim float vector per doc, used for similarity/clustering)
— re-keyed to hashed TF-IDF per SURVEY §2.10 so the whole pipeline is
hermetic (no model weights) yet produces vectors the downstream operators
(SRP-LSH near-dup, IVF ANN, KMeans event clustering) consume unchanged.

Two paths, one semantics:

* :func:`hashed_tfidf_features` — pure Column math producing SPARSE
  (doc, bucket, value) rows; token → bucket via md5 (mirrorable in DuckDB,
  so this path is oracle-checked end to end). Two shuffles (tf groupBy +
  idf groupBy), both keyed on small ints — scale-safe.
* :func:`hashed_tf_vectors` — Arrow-batched pandas UDF producing DENSE
  ``array<float>`` in ONE pass with no shuffle (sublinear tf, l2-norm, no
  corpus statistics — HashingVectorizer semantics). The 100 TB fast path
  when idf is not required.

``assemble_dense`` turns the sparse rows into ``array<float>`` for the
vector operators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neuronews_spark.operators.text_stats import ws_tokens


def _bucket(tok):
    """md5-based feature hash — first 8 hex digits as int (DuckDB mirror:
    ('0x' || substring(md5(t),1,8))::bigint)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def hashed_tfidf_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Sparse hashed TF-IDF: (doc, bucket, value) with value =
    round(tf·idf / l2, 6), idf = ln((N+1)/(df+1)) + 1 (the same smoothed
    formula as tfidf_keywords). Deterministic, UDF-free, oracle-mirrorable.
    """
    from pyspark.sql import Window

    toks = F.transform(ws_tokens(F.col(text_col)), lambda x: F.lower(x))
    t = df.select(F.col(id_col).alias("doc"), F.explode(toks).alias("token")).select(
        "doc", F.pmod(_bucket(F.col("token")), F.lit(dim)).alias("bucket")
    )
    # ONE scan + one shuffle produces tf; everything downstream (document
    # frequency, corpus size, weights, norms) derives from the pinned tf
    # frame (≤ n_docs × dim rows — a dim-fold compression of the corpus),
    # so the raw table is never re-read. Pre-rewrite plan read documents
    # 3-4 times.
    tf = (
        t.groupBy("doc", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    n_docs = tf.select(F.countDistinct("doc").alias("n")).first()["n"]
    dfb = (
        tf.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "idf", F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 1.0)) + 1.0
        )
    )
    w = tf.join(F.broadcast(dfb.select("bucket", "idf")), "bucket").select(
        "doc", "bucket", (F.col("tf") * F.col("idf")).alias("w")
    )
    # per-doc l2 via a window instead of an aggregate + self-join: one
    # shuffle on doc, no recompute of the weight pipeline
    l2 = F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc")))
    return w.select(
        "doc", "bucket", F.round(F.col("w") / l2, 6).alias("value")
    )


def assemble_dense(
    features: DataFrame, dim: int = 64, id_col: str = "doc"
) -> DataFrame:
    """(doc, bucket, value) sparse rows → (doc, embedding array<float>):
    one groupBy(doc) building the dense vector via map lookup — the bridge
    into cosine/SRP/IVF/KMeans operators."""
    m = features.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket").cast("int"), F.col("value")))
        ).alias("m")
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)).cast(
            "float"
        ),
    )
    return m.select(F.col(id_col), emb.alias("embedding"))


def hashed_tf_vectors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    seed: int = 23,
) -> DataFrame:
    """Dense hashed-TF vectors in one Arrow pass (no shuffle, no corpus
    stats): value = (1 + ln tf) per hashed bucket, l2-normalized. The
    scale path when corpus idf isn't needed — at 10^12 turns this runs as
    a map-only stage that never materializes token rows."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def vec(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            v = np.zeros(dim, dtype=np.float64)
            if t:
                toks = t.lower().split()
                if toks:
                    # vectorized token hashing: stable python hash via
                    # numpy bytes — use md5 of each distinct token once
                    uniq, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
                    import hashlib

                    for u, c in zip(uniq, counts):
                        b = int(hashlib.md5(u.encode()).hexdigest()[:8], 16) % dim
                        v[b] += 1.0 + np.log(c) if c > 1 else 1.0
                    n = np.linalg.norm(v)
                    if n > 0:
                        v /= n
            out.append(v.astype(np.float32).tolist())
        return pd.Series(out)

    return df.select(F.col(id_col).alias("doc"), vec(F.col(text_col)).alias("embedding"))
