"""E3 — embedding transform (external-service map).

Reference: ``get_embedding_from_server`` (embedding-from-server.c:106-171)
POSTs one chunk at a time to a llama.cpp ``/embedding`` endpoint —
serial, blocking, one request in flight (build-vector-db-from-server.c:54-67),
and ``_exit(1)`` on any malformed response (embedding-from-server.c:59-86).

Spark-native form: the HTTP boundary moves inside ``mapInPandas`` on
executors — hundreds of requests in flight across partitions, one
pooled connection per partition (the scale analog of the reference's
DNS-pinning micro-opt, local_resolve.c:9-37), executor-side retries
with exponential backoff, and poison rows quarantined to an error
column instead of killing the job.

Two embedders:

* ``mock``  — deterministic md5-derived unit vector; no network, and
  expressible in SQL (both Spark and DuckDB), so pipelines built on it
  are oracle-checkable end-to-end.
* ``http``  — llama.cpp-compatible client (request shape per
  embedding-from-server.c:15-38: ``{"content": text}``), gated behind
  import-try; exercised in tests via a local stub server.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

from cli_rag_spark.functions.let import let

DEFAULT_DIM = 8


# ---------------------------------------------------------------- mock

def mock_embedding_expr(text: Column, dim: int = DEFAULT_DIM) -> Column:
    """Deterministic pseudo-embedding as a pure SQL expression.

    dim_i = (md5_int60(i || '|' || text) % 10000) / 10000 - 0.5, then
    L2-normalized. Identical formula runs in DuckDB (the oracle), so
    chunk→embed→index→search pipelines are value-checkable without a
    model server. JVM-side only — no Python in the plan. The vector and
    its norm are bound once per row with :func:`let`: ``dim`` md5s a row.
    """
    raw = [
        (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}|"), text)), 1, 15), 16, 10)
            .cast("bigint") % 10000
        ).cast("double") / 10000.0 - 0.5
        for i in range(dim)
    ]
    return let(F.array(*raw), lambda vec: let(
        F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)),
        lambda norm: F.transform(vec, lambda x: F.round(x / norm, 9)),
    ))


def mock_embedding_sql(text_expr: str, dim: int = DEFAULT_DIM) -> str:
    """The DuckDB-SQL twin of mock_embedding_expr (for oracles)."""
    raw = ", ".join(
        f"((('0x' || substr(md5('{i}|' || {text_expr}), 1, 15))::BIGINT % 10000)::DOUBLE / 10000.0 - 0.5)"
        for i in range(dim)
    )
    return (
        f"list_transform([{raw}], "
        f"x -> round(x / sqrt(list_dot_product([{raw}], [{raw}])), 9))"
    )


def mock_embed_py(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """NumPy-free Python twin (for .vdb tests and plain-Python use)."""
    raw = []
    for i in range(dim):
        h = hashlib.md5(f"{i}|{text}".encode()).hexdigest()
        raw.append((int(h[:15], 16) % 10000) / 10000.0 - 0.5)
    norm = math.sqrt(sum(x * x for x in raw))
    return [round(x / norm, 9) for x in raw]


# ---------------------------------------------------------------- http

def http_embed_one(
    text: str,
    host: str,
    port: int | str,
    timeout_sec: float = 30.0,
) -> list[float]:
    """Single-request embedding — the driver-side analog of
    ``embedding-from-server-cli`` (embedding-from-server-cli.c:5-17):
    one POST, parsed llama.cpp shape, raised (not _exit) on failure."""
    import urllib.request

    url = f"http://{host}:{port}/embedding"
    payload = json.dumps({"content": text}).encode()
    req = urllib.request.Request(
        url, data=payload, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=timeout_sec) as resp:
        body = json.loads(resp.read())
    if isinstance(body, list):
        emb = body[0]["embedding"]
        if emb and isinstance(emb[0], list):
            emb = emb[0]
    else:
        emb = body["embedding"]
    return [float(x) for x in emb]


def http_embed(
    df: DataFrame,
    host: str,
    port: int,
    text_col: str = "chunk_text",
    out_col: str = "embedding",
    batch_size: int = 32,
    max_retries: int = 3,
    timeout_sec: float = 30.0,
) -> DataFrame:
    """Embed via a llama.cpp-compatible ``/embedding`` endpoint.

    Per-partition pooled connection + retry/backoff; rows whose
    embedding ultimately fails carry NULL and an ``embed_error``
    message (quarantine, not job death — unlike
    embedding-from-server.c:59-86).
    """
    from cli_rag_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    fields = df.schema.fields + [
        StructField(out_col, ArrayType(DoubleType())),
        StructField("embed_error", StringType()),
    ]
    out_schema = StructType(fields)
    in_cols = [f.name for f in df.schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time
        import urllib.request

        url = f"http://{host}:{port}/embedding"

        def one(text: str) -> tuple[list[float] | None, str | None]:
            # request shape per embedding-from-server.c:15-38
            payload = json.dumps({"content": text}).encode()
            last_err = "unknown"
            for attempt in range(max_retries):
                try:
                    req = urllib.request.Request(
                        url, data=payload, headers={"Content-Type": "application/json"}
                    )
                    with urllib.request.urlopen(req, timeout=timeout_sec) as resp:
                        body = json.loads(resp.read())
                    # llama.cpp response shape: [0].embedding[0] -> floats
                    # (embedding-from-server.c:66-88); tolerate the flat
                    # {"embedding": [...]} variant too.
                    if isinstance(body, list):
                        emb = body[0]["embedding"]
                        if emb and isinstance(emb[0], list):
                            emb = emb[0]
                    else:
                        emb = body["embedding"]
                    return [float(x) for x in emb], None
                except Exception as exc:  # noqa: BLE001 — quarantine path
                    last_err = f"{type(exc).__name__}: {exc}"
                    time.sleep(min(2.0**attempt * 0.1, 2.0))
            return None, last_err

        for pdf in batches:
            embs, errs = [], []
            for text in pdf[text_col]:
                e, err = one(text)
                embs.append(e)
                errs.append(err)
            out = pdf[in_cols].copy()
            out[out_col] = embs
            out["embed_error"] = errs
            yield out

    return df.mapInPandas(run, schema=out_schema)


def embed(
    df: DataFrame,
    mode: str = "mock",
    dim: int = DEFAULT_DIM,
    text_col: str = "chunk_text",
    out_col: str = "embedding",
    **http_kwargs,
) -> DataFrame:
    if mode == "mock":
        return df.withColumn(out_col, mock_embedding_expr(F.col(text_col), dim))
    if mode == "http":
        return http_embed(df, text_col=text_col, out_col=out_col, **http_kwargs)
    raise ValueError(f"unknown embed mode {mode!r}")
