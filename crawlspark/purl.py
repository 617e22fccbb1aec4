"""Pure-Python URL semantics matching the reference crawler exactly.

These functions are the golden contract for URL handling (reference:
/root/reference/url.go):

- ``clean_path``   ≙ Go ``path.Clean``        (url.go:45, 62 call sites)
- ``join_host``    ≙ ``join(host, name)``      (url.go:36-50)
- ``normalize``    ≙ ``normalize(parent, href)`` (url.go:9-34) — note this is
  deliberately NOT RFC 3986: a bare relative href resolves against the full
  parent *path* treated as a directory (url_test.go:61 expects
  ``http://google.com/sub/search`` for href ``search`` under parent
  ``http://google.com/sub``).
- ``normalize_key`` ≙ ``normalizeKey(url)``    (url.go:52-72): the canonical
  dedup key — cleaned path (+ ``?rawquery``), scheme/host/fragment dropped.

They are used in three places: the pure-Python reference oracle
(crawlspark/oracle.py), the exact tier of crawlspark/canon.py (its pandas
UDFs call them per row inside each Arrow batch), and the unit tests'
expected values.

No Spark imports here — this module must stay importable on executors
without a SparkSession.
"""

from __future__ import annotations

import re as _re
from typing import NamedTuple, Optional

_SCHEME_RE = _re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):(.*)$", _re.DOTALL)
# Go rejects these in host names (net/url: "invalid character ... in host")
_BAD_HOST_CHARS = set(' <>"{}|\\^`')

_HEX_DIGITS = set("0123456789abcdefABCDEF")
#: characters Go shouldEscape(c, encodePath) leaves unescaped: ASCII
#: alphanumerics, RFC 3986 unreserved marks, and the reserved set minus '?'
_PATH_NO_ESCAPE = set(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "-_.~" "$&+,/:;=@"
)
#: extra characters validEncoded(s, encodePath) tolerates in a RawPath
#: (Go net/url: sub-delims left alone by browsers, plus '[' ']' '%')
_RAWPATH_EXTRA = set("!$&'()*+,;=:@[]%")


def unescape_path(s: str) -> Optional[str]:
    """Go net/url unescape for the path component: every %XX decodes to
    the byte XX; an invalid escape (short or non-hex) is a parse error ⇒
    None (the reference then SKIPS the link, crawler.go:226-228).

    Byte-level note: Go paths are byte strings; decoded bytes that are
    not valid UTF-8 become U+FFFD here (str-typed engine columns) — a
    documented divergence for non-UTF-8 escapes only."""
    if "%" not in s:
        return s
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%":
            if i + 2 >= n or s[i + 1] not in _HEX_DIGITS or s[i + 2] not in _HEX_DIGITS:
                return None
            out.append(int(s[i + 1 : i + 3], 16))
            i += 3
        else:
            out.extend(c.encode("utf-8"))
            i += 1
    return out.decode("utf-8", "replace")


def escape_path(s: str) -> str:
    """Go escape(s, encodePath): percent-encode every byte shouldEscape
    marks (UTF-8 bytes for non-ASCII)."""
    out = []
    for b in s.encode("utf-8", "replace"):
        ch = chr(b)
        if b < 128 and ch in _PATH_NO_ESCAPE:
            out.append(ch)
        else:
            out.append("%%%02X" % b)
    return "".join(out)


def _valid_encoded_path(s: str) -> bool:
    """Go validEncoded(s, encodePath): may this raw text stand as the
    escaped form of a path?"""
    for ch in s:
        if ch in _RAWPATH_EXTRA:
            continue
        if ord(ch) < 128 and ch in _PATH_NO_ESCAPE:
            continue
        return False
    return True


class URL(NamedTuple):
    """Minimal URL struct mirroring the fields Go's net/url.URL exposes
    that the reference actually uses (scheme, host, path, rawquery,
    fragment, opaque, rawpath). ``path`` is the DECODED path (Go
    url.Parse percent-decodes into u.Path); ``raw_path`` holds the
    original text only when it differs from the canonical re-escape
    (Go setPath semantics)."""

    scheme: str
    host: str
    path: str
    query: str
    fragment: str
    opaque: str = ""
    raw_path: str = ""

    @property
    def is_abs(self) -> bool:
        # Go: u.IsAbs() ⇔ u.Scheme != "" (crawler.go:28)
        return self.scheme != ""

    def escaped_path(self) -> str:
        """Go URL.EscapedPath(): the original raw text when it is a valid
        encoding of ``path``, else the canonical re-escape."""
        if (
            self.raw_path
            and _valid_encoded_path(self.raw_path)
            and unescape_path(self.raw_path) == self.path
        ):
            return self.raw_path
        return escape_path(self.path)

    def to_string(self) -> str:
        """Reconstruct the URL string the way Go's url.URL.String() does for
        the URL shapes this engine deals with (escaped path form)."""
        out = []
        if self.scheme:
            out.append(self.scheme + ":")
        if self.opaque:
            out.append(self.opaque)
        else:
            if self.host:
                out.append("//" + self.host)
            out.append(self.escaped_path())
        if self.query:
            out.append("?" + self.query)
        if self.fragment:
            out.append("#" + self.fragment)
        return "".join(out)


def parse_url(raw: str) -> Optional[URL]:
    """Parse like Go's url.Parse. Implemented by hand rather than with
    urllib.parse.urlsplit because urlsplit silently strips surrounding
    whitespace and tolerates spaces in hosts — Go does neither, and link
    skipping/acceptance depends on those behaviors exactly:

    - control characters anywhere ⇒ error ⇒ None (link skipped,
      crawler.go:226-228)
    - ``" http://x"`` (leading space) ⇒ scheme parse fails ⇒ RELATIVE path
      URL (resolved against the parent by normalize's default case)
    - ``"http://x "`` (space in host) ⇒ error ⇒ None
    """
    if raw is None:
        return None
    for ch in raw:
        if ord(ch) < 0x20 or ch == "\x7f":
            return None

    s = raw
    fragment = ""
    i = s.find("#")
    if i >= 0:
        s, fragment = s[:i], s[i + 1 :]

    scheme = ""
    opaque = ""
    m = _SCHEME_RE.match(s)
    if m:
        scheme, rest = m.group(1).lower(), m.group(2)
        if rest and not rest.startswith("/"):
            # opaque URL, e.g. mailto:user@host (never keyed: the accept
            # filter rejects non-crawl-host URLs before Push)
            query = ""
            q = rest.find("?")
            if q >= 0:
                rest, query = rest[:q], rest[q + 1 :]
            return URL(scheme, "", "", query, fragment, opaque=rest)
    else:
        rest = s

    host = ""
    if rest.startswith("//"):
        rest = rest[2:]
        j = len(rest)
        for k, ch in enumerate(rest):
            if ch in "/?#":
                j = k
                break
        host, rest = rest[:j], rest[j:]
        if any(c in _BAD_HOST_CHARS for c in host):
            return None

    query = ""
    q = rest.find("?")
    if q >= 0:
        rest, query = rest[:q], rest[q + 1 :]

    # percent-decode the path into ``path`` (Go url.Parse → u.Path);
    # invalid escapes fail the whole parse (link skipped). RawQuery stays
    # verbatim, exactly like Go.
    path = unescape_path(rest)
    if path is None:
        return None
    raw_path = rest if rest != escape_path(path) else ""
    return URL(scheme, host, path, query, fragment, raw_path=raw_path)


def clean_path(path: str) -> str:
    """Go path.Clean semantics (NOT posixpath.normpath: normpath keeps a
    leading ``//``, Go collapses it).

    Rules: collapse multiple slashes, eliminate ``.`` and ``..`` segments
    (".." at the root is dropped for rooted paths, kept for relative ones),
    drop trailing slash, empty result ⇒ ".".
    """
    if path == "":
        return "."
    rooted = path[0] == "/"
    segs = path.split("/")
    out: list[str] = []
    for seg in segs:
        if seg == "" or seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "..":
                out.pop()
            elif not rooted:
                out.append("..")
            # rooted + at root: drop the ".."
            continue
        out.append(seg)
    cleaned = "/".join(out)
    if rooted:
        cleaned = "/" + cleaned
    if cleaned == "":
        cleaned = "."
    return cleaned


def path_join(a: str, b: str) -> str:
    """Go path.Join(a, b): join with '/', then Clean; empty parts skipped."""
    parts = [p for p in (a, b) if p != ""]
    if not parts:
        return ""
    return clean_path("/".join(parts))


def join_host(host: str, name: str) -> str:
    """``join(host, name)`` — reference url.go:36-50.

    Strips leading slashes from name; "." ⇒ ""; Clean if len>1; empty ⇒
    host; else path.Join(host, name).
    """
    while name.startswith("/"):
        name = name[1:]
    if name == ".":
        return ""
    if len(name) > 1:
        name = clean_path(name)
    if name == "":
        return host
    return path_join(host, name)


def normalize(parent: URL, href: str) -> Optional[URL]:
    """``normalize(parent, href)`` — reference url.go:9-34.

    Absolute hrefs returned as-is (cross-host allowed here; the accept
    filter rejects them later). Relative hrefs resolve through four cases
    against the parent, with the parent's full path acting as the base
    directory. Returns None for unparseable hrefs (link skipped).
    """
    candidate = parse_url(href)
    if candidate is None:
        return None
    if candidate.is_abs:
        return candidate

    href = href.strip()
    if href.startswith("#"):
        href = parent.scheme + "://" + join_host(parent.host, parent.path) + href
    elif href.startswith("//"):
        href = parent.scheme + ":" + href
    elif href.startswith("/"):
        href = parent.scheme + "://" + parent.host + href
    else:
        href = "/" + href
        href = parent.scheme + "://" + join_host(parent.host, parent.path) + href
    return parse_url(href)


def normalize_key(u: URL) -> str:
    """``normalizeKey(url)`` — reference url.go:52-72.

    Canonical dedup key: cleaned path with guaranteed leading slash, plus
    ``?rawquery`` verbatim when present. Scheme/host/port/fragment dropped
    (single-host crawl). Consequences preserved: ``http://h`` ≡
    ``http://h/`` (key "/"), ``/sub/`` ≡ ``/sub``, ``p#frag`` ≡ ``p``,
    ``/a/../b`` ≡ ``/b``; query kept verbatim, no param sorting.
    """
    name = u.path
    if name == ".":
        name = ""
    if len(name) > 1:
        name = clean_path(name)
    if name != "" and not name.startswith("/"):
        name = "/" + name
    if name == "":
        name = "/"
    if u.query:
        name += "?" + u.query
    return name


def accept(
    u: URL,
    host: str,
    reject: "list[object]",
    accept_pats: "list[object]",
) -> bool:
    """F1 — reference ``Accept`` (crawler.go:59-84). Exact host-string
    equality (includes port), then reject regexes (reject wins), then
    accept regexes (empty accept list ⇒ accept all). Patterns are matched
    unanchored against the full URL string (Go ``MatchString`` ≙
    ``re.search``). ``reject``/``accept_pats`` hold compiled patterns or
    pattern strings."""
    import re as _re

    if host == "":
        raise ValueError("empty crawl host")  # reference panics, crawler.go:61
    if host != u.host:
        return False
    name = u.to_string()
    for pat in reject:
        if _re.search(pat if isinstance(pat, str) else pat.pattern, name):
            return False
    if not accept_pats:
        return True
    for pat in accept_pats:
        if _re.search(pat if isinstance(pat, str) else pat.pattern, name):
            return True
    return False


#: constructs outside the dialect-neutral subset shared by Python ``re``
#: (the oracle / pandas path), Java ``rlike`` (the engine's native path)
#: and Go RE2 (the reference): named groups, lookaround, \x{...} escapes.
_PATTERN_FORBIDDEN = ("(?P<", "(?<", "(?=", "(?!", "\\x{")


def validate_pattern(pat: str) -> None:
    """Reject accept/reject patterns that would behave differently (or
    compile on only some of) the three regex dialects this engine
    evaluates them under: Python ``re`` in the oracle and pandas
    fallback, Java regex in the native ``rlike`` fold, Go RE2 in the
    reference. Supported subset: literals, char classes, alternation,
    grouping ``(...)``/(?:...), quantifiers, anchors, \\d \\w \\s
    escapes. Raises ValueError otherwise (fail at config construction,
    not mid-crawl on one of the paths)."""
    try:
        _re.compile(pat)
    except _re.error as e:
        raise ValueError(f"invalid accept/reject pattern {pat!r}: {e}") from e
    for tok in _PATTERN_FORBIDDEN:
        if tok in pat:
            raise ValueError(
                f"accept/reject pattern {pat!r} uses {tok!r} — outside the "
                "dialect-neutral subset (Python re / Java rlike / Go RE2 "
                "disagree); rewrite with plain groups/classes"
            )
    if _re.search(r"\\[1-9]", pat):
        raise ValueError(
            f"accept/reject pattern {pat!r} uses a backreference — "
            "unsupported in Go RE2 and outside the engine's portable subset"
        )


def url_key_of(raw: str) -> Optional[str]:
    """Convenience: parse + normalize_key; None when unparseable."""
    u = parse_url(raw)
    if u is None:
        return None
    return normalize_key(u)
