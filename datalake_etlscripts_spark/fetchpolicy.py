"""Production crawl fetch policy (S10 completion, F14/F15).

The reference's ``store_document`` is a ~93-line state machine around
one HTTP GET; this module re-expresses it as a PURE function over an
injectable transport so the same policy runs inside the crawl
``mapInPandas`` UDF (crawl.py) against real HTTP in production and a
deterministic fake in tests — no live sockets in this repo.

Semantics provenance (reference, studied not copied):
- redirect-code loop capped at 30 hops ....... ntp_entry.py:124-216,
  ntp_constants.py:10-13
- HTML meta-refresh chase with relative-path
  resolution .................................. ntp_utils.py:169-183
- Content-type → doc-type map + Content-
  disposition filename extension sniffing ..... ntp_utils.py:193-215
- 16-extension accepted whitelist ............. ntp_constants.py:3-8
- SSL / timeout / unknown-error classification  ntp_entry.py:207-216

Scale note: the policy constants (whitelist, content-type map) ride in
the UDF closure — serialized once per executor like a broadcast
variable; per-URL work is pure CPU + the transport call. Partition-
level politeness stays in crawl.crawl (host-partitioned batches).
"""

from __future__ import annotations

import posixpath
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlparse

# reference ntp_constants.py:3-8 — the 16 accepted extensions
ACCEPTED_DOC_TYPES = frozenset(
    {
        "7z", "doc", "docx", "pdf",
        "tcq", "dwg", "odg", "odt",
        "rar", "rtf", "txt",
        "xls", "xlsm", "xlsx", "zip",
    }
)

# reference ntp_constants.py:10-13
REDIRECT_CODES = (301, 302, 303, 307, 308)
MAX_REDIRECTS = 30

# reference exit codes (ntp_constants.py:15-20); shared with crawl.py
STATUS_OK = 200
STATUS_SKIPPED = 1
STATUS_UNWANTED = 2
STATUS_SSL_ERROR = 3
STATUS_ERROR = -1


class TransportSSLError(Exception):
    """Transport-layer certificate failure (maps to status 3)."""


class TransportTimeout(Exception):
    """Transport-layer timeout (maps to status -1)."""


@dataclass
class Response:
    """Minimal transport response; header keys must be lowercase."""

    status: int
    headers: dict[str, str] = field(default_factory=dict)
    content: bytes = b""


Transport = Callable[[str], Response]


# ---------------------------------------------------------------------------
# F14: headers → doc type (ntp_utils.py:193-215)
# ---------------------------------------------------------------------------
_CONTENT_TYPE_MAP = {
    "application/pdf": "pdf",
    "application/vnd.openxmlformats-officedocument"
    ".wordprocessingml.document": "docx",
}


def file_type_from_headers(headers: dict[str, str]) -> str:
    """Doc type from HTTP headers: Content-type map first, then a
    Content-disposition filename extension overrides it (the reference
    order — disposition wins when both present). Header keys are
    expected lowercase (requests'/our transports normalize); the
    reference's literal-key lookup worked because requests' mapping is
    case-insensitive."""
    doc_type = ""
    ct = headers.get("content-type", "")
    if ct in _CONTENT_TYPE_MAP:
        doc_type = _CONTENT_TYPE_MAP[ct]
    elif ct.startswith("text/html"):
        doc_type = "html"
    cd = headers.get("content-disposition", "")
    if cd:
        # the reference strips two HTML-entity fragments seen in the
        # wild, then takes the extension of any filename= item
        cd = cd.replace("769;", "_").replace("8230;", "_")
        for item in cd.split(";"):
            if "filename" in item:
                _, file_name = item.split("=", maxsplit=1)
                file_name = file_name.replace(" .", ".").lower()
                ext = posixpath.splitext(file_name)[1]
                doc_type = ext.replace(".", "").replace("?=", "").replace('"', "")
    return doc_type


# ---------------------------------------------------------------------------
# F15: HTML meta-refresh chase (ntp_utils.py:169-183), regexp-based —
# the container has no bs4/lxml, and a <meta http-equiv=refresh> tag is
# regular enough for a pattern (attribute order handled both ways)
# ---------------------------------------------------------------------------
_META_PATTERNS = (
    re.compile(
        rb"<meta[^>]*http-equiv\s*=\s*[\"']?refresh[\"']?[^>]*?"
        rb"content\s*=\s*[\"']([^\"']+)[\"']",
        re.IGNORECASE | re.DOTALL,
    ),
    re.compile(
        rb"<meta[^>]*content\s*=\s*[\"']([^\"']+)[\"'][^>]*?"
        rb"http-equiv\s*=\s*[\"']?refresh[\"']?",
        re.IGNORECASE | re.DOTALL,
    ),
)


def meta_refresh_url(url: str, content: bytes) -> str:
    """URL of a ``<meta http-equiv="refresh" content="N;url=...">``
    redirect, '' if none. Single-'/' relative targets resolve against
    the source URL's scheme+host, like the reference."""
    for pat in _META_PATTERNS:
        m = pat.search(content)
        if not m:
            continue
        parts = m.group(1).decode("latin-1").split(";")
        if len(parts) != 2:  # reference unpacks exactly (wait, text)
            continue
        text = parts[1].strip()
        if not text.lower().startswith("url="):
            continue
        redir_url = text[4:].replace("'", "")
        if redir_url.startswith("/"):
            parsed = urlparse(url)
            redir_url = f"{parsed.scheme}://{parsed.hostname}{redir_url}"
        return redir_url
    return ""


# ---------------------------------------------------------------------------
# the store_document state machine (ntp_entry.py:124-216), fetch half —
# storage write stays in the sink callback (K3), keeping this pure
# ---------------------------------------------------------------------------
def fetch_with_policy(
    url: str,
    transport: Transport,
    max_redirects: int = MAX_REDIRECTS,
) -> tuple[int, str, bytes]:
    """Fetch ``url`` under the production policy. Returns
    (status, doc_type, content): content is non-empty only for an
    accepted doc type (status 200); unwanted types report status 2
    with the sniffed type; redirect overrun reports the last redirect
    status; SSL errors → 3; timeouts/unknown errors → -1."""
    try:
        resp = transport(url)
        hops = 0
        # reference loop shape: enters while hops <= cap, so a
        # redirect chain consumes at most cap+1 follow-ups and a loop
        # that never lands exits with the redirect status
        while resp.status in REDIRECT_CODES and hops <= max_redirects:
            hops += 1
            url = resp.headers.get("location", "")
            resp = transport(url)
        if resp.status == 200:
            doc_type = file_type_from_headers(resp.headers)
            if doc_type == "html":
                redir = meta_refresh_url(url, resp.content)
                if redir:
                    resp = transport(redir)
                    if resp.status == 200:
                        doc_type = file_type_from_headers(resp.headers)
                    else:
                        # reference: (status_code, 'Error on redirect')
                        return resp.status, "", b""
            if doc_type in ACCEPTED_DOC_TYPES:
                return STATUS_OK, doc_type, resp.content
            return STATUS_UNWANTED, doc_type, b""
        return resp.status, "", b""
    except TransportSSLError:
        return STATUS_SSL_ERROR, "", b""
    except TransportTimeout:
        return STATUS_ERROR, "", b""
    except Exception:  # noqa: BLE001 — fetch errors are data, not crashes
        return STATUS_ERROR, "", b""


def policy_fetcher(
    transport: Transport, max_redirects: int = MAX_REDIRECTS
) -> Callable[[str], tuple[int, str, bytes]]:
    """Adapter: a crawl.crawl-compatible fetcher running this policy
    over the given transport."""

    def fetch(url: str) -> tuple[int, str, bytes]:
        return fetch_with_policy(url, transport, max_redirects=max_redirects)

    return fetch
