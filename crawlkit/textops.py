"""Text-analysis operators for large-scale corpus pipelines.

Column-expression builders (JVM-side, whole-stage-codegen friendly — no
Python in the hot path) for: tokenization, token counting, quality
scoring, marker-based language ID, and document fingerprinting
(shingle rolling-hash).  These extend the reference's per-document
text handling (title/meta/text extraction, `src/crawler.ts:31-84`;
language normalization, `src/lang.ts:3-17`) to corpus-scale analytics.

Every builder has an exact ANSI-SQL twin in ``crawlkit/queries.py`` so
the DuckDB oracle can verify it bit-for-bit; the shared primitive is
``md5i60`` (first 15 hex chars of md5 as a 60-bit non-negative int),
which both engines compute identically.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# tokenization

def tokens(c: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty string → [] not ['']))."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), r"\s+")
    )


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


# ---------------------------------------------------------------------------
# md5-backed 60-bit hash — the cross-engine deterministic hash primitive

def md5i60(c: Column) -> Column:
    """First 15 hex chars of md5 as a BIGINT in [0, 2^60).

    Deterministic and identical in DuckDB via
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.  Used everywhere a
    *portable* hash is needed (fingerprints, minhash, simhash); the
    engine-internal URL hash stays ``xxhash64`` (faster, JVM built-in).
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def fingerprint(c: Column | str, k: int = 8) -> Column:
    """Document fingerprint: 60-bit hash of the first *k* tokens.

    The rolling-hash analog for prefix near-dup grouping: documents
    sharing their first-k-token shingle collide.
    """
    col = F.col(c) if isinstance(c, str) else c
    return md5i60(F.concat_ws(" ", F.slice(tokens(col), 1, k)))


# ---------------------------------------------------------------------------
# quality scoring

STOPWORDS = ("a", "the", "of", "and", "in", "to", "is", "for")


def stopword_ratio(c: Column | str) -> Column:
    toks = tokens(c)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def avg_token_len(c: Column | str) -> Column:
    toks = tokens(c)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, sane token
    length, some stopwords — the usual web-text quality gates."""
    n = token_count(c)
    return F.round(
        F.least(n / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.when((avg_token_len(c) >= 3) & (avg_token_len(c) <= 10), 0.3).otherwise(0.0)
        + F.least(stopword_ratio(c) * 5, F.lit(1.0)) * 0.3,
        4,
    )


# ---------------------------------------------------------------------------
# marker-based language ID (n-gram/marker heuristic)

# Real-text marker profiles (engine use: classify extracted page text).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "eng": ("the", "and", "of", "to", "is", "in", "that", "for"),
    "deu": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fra": ("le", "la", "les", "et", "est", "pas", "que", "des"),
    "spa": ("el", "la", "los", "que", "es", "una", "por", "con"),
}


def marker_hits(c: Column | str, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens(c), lambda t: F.lower(t).isin(*markers)))


def langid(c: Column | str, profiles: dict[str, tuple[str, ...]] | None = None,
           default: str = "und") -> Column:
    """argmax over marker-word profiles; deterministic tie-break by
    profile-name order; 'und' (undetermined) when no marker hits."""
    profiles = profiles or LANG_MARKERS
    hit_cols = {name: marker_hits(c, m) for name, m in profiles.items()}
    best = F.greatest(*hit_cols.values())
    guess: Column = F.lit(default)
    # reversed so the FIRST profile in dict order wins ties
    for name in reversed(list(profiles)):
        guess = F.when(hit_cols[name] == best, F.lit(name)).otherwise(guess)
    return F.when(best > 0, guess).otherwise(F.lit(default))


def langid_text(text: str, profiles: dict[str, tuple[str, ...]] | None = None,
                default: str = "und") -> str:
    """Pure-Python twin of :func:`langid` for the extraction kernel."""
    profiles = profiles or LANG_MARKERS
    toks = [t.lower() for t in text.split()]
    best_name, best_hits = default, 0
    for name, markers in profiles.items():
        hits = sum(1 for t in toks if t in markers)
        if hits > best_hits:
            best_name, best_hits = name, hits
    return best_name if best_hits > 0 else default
