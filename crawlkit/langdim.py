"""Language dimension: code normalization + RTL membership (J3/J4).

The reference normalizes free-form language names/codes against a
158-entry ISO-639 array by linear scan over four name forms — iso639-1,
iso639-3, lowercased English name, lowercased native name — first match
in array order wins (`/root/reference/src/lang.ts:3-17` over
`src/languages.json`), and checks RTL membership against an 8-code list
(`src/lang.ts:19-32`).  The rebuild makes normalization a broadcast
dimension join over the full table (data in :mod:`crawlkit.langdata`,
regenerated by ``tools/gen_langdim.py``) and RTL an ``isin`` semi-join.

Parity note: the (form → iso3) map is computed HERE in Python — with
Python ``str.lower`` and first-match-wins conflict resolution — and
shipped to Spark as a literal dim and to the DuckDB oracle as inlined
VALUES.  Both engines therefore join against byte-identical forms;
no engine-side Unicode lowercasing of native names is involved (only
the input column, which holds plain user codes, is lowercased in the
engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .langdata import LANGUAGES

# reference rtlLanguageCodeList3 (src/lang.ts:19-27): 8 iso639-3 codes
RTL_CODES_3 = ("ara", "heb", "fas", "urd", "kas", "pus", "uig", "snd")


def form_map() -> dict[str, str]:
    """(lowercased name form → iso639-3), first match in array order
    wins — exactly the reference's linear-scan resolution."""
    forms: dict[str, str] = {}
    for iso1, iso3, english, native in LANGUAGES:
        for form in (iso1.lower(), iso3.lower(), english.lower(), native.lower()):
            forms.setdefault(form, iso3)
    return forms


def lang639_3(lang: str) -> str:
    """Pure-Python twin of the reference's ``lang639_3`` ('' when
    unmatched) for kernel-side use."""
    return form_map().get(lang.lower(), "")


def forms_df(spark: SparkSession) -> DataFrame:
    """The broadcastable (form, iso639_3) dim — 615 rows, a few KB."""
    return spark.createDataFrame(
        sorted(form_map().items()), "form string, iso639_3 string"
    )


def normalize_lang(df: DataFrame, lang_col: str = "lang",
                   dim: DataFrame | None = None) -> DataFrame:
    """J3: match the input against any of the four name forms via a
    broadcast join; adds ``lang3`` (iso639-3, null when unmatched)."""
    spark = df.sparkSession
    dim = dim if dim is not None else forms_df(spark)
    return (
        df.withColumn("_form", F.lower(F.trim(F.col(lang_col))))
        .join(F.broadcast(dim), F.col("_form") == F.col("form"), "left")
        .withColumnRenamed("iso639_3", "lang3")
        .drop("_form", "form")
    )


def is_rtl(lang3: Column | str) -> Column:
    """J4 semi-join membership: 8-element list → ``isin`` (broadcast-
    free; the optimizer folds it to an InSet)."""
    col = F.col(lang3) if isinstance(lang3, str) else lang3
    return col.isin(*RTL_CODES_3)
