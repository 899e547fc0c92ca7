"""URL validation & canonicalization (SURVEY.md P2 / S7).

The reference delegates canonicalization to crawlee's ``uniqueKey``
(``/root/reference/src/crawler.ts:49-52,99-108``) and validates with
``isValidUrl`` (``/root/reference/src/api.ts:192-200``: must be a
string, start with ``https://`` and parse as a URL).

Canonicalization follows crawlee/apify ``normalizeUrl`` semantics
(public: apify/crawlee ``uniqueKey`` docs): trim, lowercase scheme and
host, strip the fragment, drop the default port, drop ``utm_*`` query
params, sort remaining query params, and normalise an empty path to
``/``.  The function is idempotent (property-tested).

These are pure-Python kernels; the Spark layer wraps them in Arrow
pandas UDFs (no per-row Python rows cross the JVM boundary).
"""

from __future__ import annotations

from urllib.parse import urlparse, urlunparse, parse_qsl, urlencode, urljoin

__all__ = [
    "is_valid_url", "canonical_url", "url_host", "url_identity", "resolve_link",
]


def is_valid_url(url: object) -> bool:
    """P2: string ∧ startswith 'https://' ∧ parses (api.ts:192-200)."""
    if not isinstance(url, str) or not url.startswith("https://"):
        return False
    try:
        parsed = urlparse(url)
    except ValueError:
        return False
    return bool(parsed.netloc)


def canonical_url(url: str) -> str:
    """crawlee-style uniqueKey normalisation; idempotent."""
    url = url.strip()
    try:
        parsed = urlparse(url)
    except ValueError:
        return url
    scheme = parsed.scheme.lower()
    host = parsed.netloc.lower()
    if "@" in host:  # strip credentials
        host = host.rsplit("@", 1)[1]
    if scheme == "https" and host.endswith(":443"):
        host = host[: -len(":443")]
    elif scheme == "http" and host.endswith(":80"):
        host = host[: -len(":80")]
    path = parsed.path or "/"
    query = ""
    if parsed.query:
        pairs = [
            (k, v)
            for k, v in parse_qsl(parsed.query, keep_blank_values=True)
            if not k.startswith("utm_")
        ]
        pairs.sort()
        query = urlencode(pairs)
    return urlunparse((scheme, host, path, "", query, ""))


def url_host(url: str) -> str:
    try:
        host = urlparse(url).netloc.lower()
    except ValueError:
        return ""
    if "@" in host:
        host = host.rsplit("@", 1)[1]
    if ":" in host:
        host = host.split(":", 1)[0]
    return host


def url_identity(url: object) -> tuple[str, str] | None:
    """P2 validity + S7 canonicalization + host of one url:
    ``(url_canon, host)``, or None when the url is invalid.  The one
    identity kernel of both frontier inputs — seeds
    (``sparkfns.with_url_identity``) and out-links
    (``fetch.extract_batch``)."""
    if not is_valid_url(url):
        return None
    url_canon = canonical_url(url)
    return url_canon, url_host(url_canon)


def resolve_link(base_url: str, href: str) -> str:
    """Resolve an out-link against its page url (frontier growth)."""
    try:
        return urljoin(base_url, href)
    except ValueError:
        return href
