"""Arrow-vectorized UDF wrappers + narrow column helpers (S7/P2).

All Python kernels are pandas UDFs over Arrow batches — no per-row
Python crosses the JVM boundary (``input_hint``).  The 64-bit url hash
is computed JVM-side with the built-in ``xxhash64`` so it stays inside
whole-stage codegen and matches across the engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import canon

_IDENTITY = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
    ]
)


def _url_identity(urls: pd.Series) -> pd.DataFrame:
    """``canon.url_identity`` per url; both fields null when invalid."""
    ids = [canon.url_identity(u) or (None, None) for u in urls]
    return pd.DataFrame(ids, columns=["url_canon", "host"])


url_identity_udf = F.pandas_udf(_url_identity, _IDENTITY).asNondeterministic()


def url_hash_col(url_canon: Column | str) -> Column:
    """xxhash64 of the canonical url — JVM-side, codegen-friendly."""
    col = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return F.xxhash64(col)


def with_url_identity(df: DataFrame, url_col: str = "url") -> DataFrame:
    """P2 validity + S7 canonicalization + hash + host, as columns.

    Invalid URLs are *filtered out* (reference rejects them with 400,
    ``src/api.ts:62-64``).  One Arrow round-trip: validity, canonical
    form and host come back together from ``url_identity_udf``.  The
    UDF is marked nondeterministic only so the optimizer cannot push
    the validity filter below it and evaluate it twice (once in the
    filter, once in the projection); its output is a pure function of
    the url.
    """
    ident = "_url_identity"
    return (
        df.withColumn(ident, url_identity_udf(F.col(url_col)))
        .where(F.col(f"{ident}.url_canon").isNotNull())
        .withColumn("url_canon", F.col(f"{ident}.url_canon"))
        .withColumn("url_hash", url_hash_col("url_canon"))
        .withColumn("host", F.col(f"{ident}.host"))
        .drop(ident)
    )
