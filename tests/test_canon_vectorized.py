"""Adversarial URL corpora (every href form, dot-segments, whitespace
edges, control chars, opaque schemes, ports, queries, fragments) that
tests/test_spark_canon.py runs through both canonicalization tiers and
checks against purl."""

from crawlspark.purl import normalize_key, parse_url

PARENTS = [
    "http://google.com",
    "http://google.com/sub",
    "http://google.com/sub/",
    "http://example.com:8080/a/b.html",
    "http://h.example/dir/page.html?x=1#frag",
    # escaped + raw non-ASCII parents: the decoded parent path re-enters
    # the constructed URL and must be re-escaped by the round-trip
    "http://google.com/caf%C3%A9/x",
    "http://google.com/á/b",
]

HREFS = [
    "http://google.com/search?q=golang",
    "search",
    "/search",
    "//google.com/search",
    "#fragment",
    "search?q=golang",
    "/search#fragment",
    "",
    ".",
    "..",
    "../up.html",
    "./here.html",
    "a/b/../c.html",
    "//cdn.example/img.png",
    "HTTPS://Upper.Example/Path",
    "mailto:user@example.com",
    "javascript:void(0)",
    " http://leading-space.example",
    "http://bad host.example/x",
    "tel:+1-555",
    "/a//b.html",
    "/trailing/",
    "page.html?a=1&b=2#s",
    "\x01bad",
    "sub page.html",
    "?query-only",
    "/;params",
    "p%20q.html",
    # percent-encoding edges (Go decodes into u.Path; invalid ⇒ skip)
    "http://h/a%20b",
    "http://h/%2e%2e/x",
    "http://h/bad%zz",
    "/x%41y",
    "%7Euser",
    "http://h/q?x=%20&y=%2",
    "http://h/a%2Fb",
    "/x%zz",
    "%2e%2e/up",
    # raw non-ASCII: Go url.Parse decodes, String() percent-escapes paths
    # (ADVICE r2 — fast masks must exclude these, not emit verbatim)
    "http://h/café",
    "/café",
    "café",
    "//h2/é",
    "#fragé",
    "naïve/path?q=café",
    "http://h/ümlaut?q=ß",
    "http://hést.example/x",
    # an empty query or fragment: purl (Go String()) drops it, so the
    # native masks must not emit these verbatim
    "http://google.com/p?",
    "http://google.com/p#",
    "http://google.com/p?#f",
    "/p?",
    "/p#",
    "/p?a#",
]

URLS = [
    "http://h/",
    "http://h",
    "http://h/sub/",
    "http://h/a/../b",
    "http://h/a//b",
    "http://h/p?b=2&a=1",
    "http://h/p?",
    "http://h?",
    "http://h/p#",
    "http://h/p#f",
    "HTTP://h/Up",
    "http://h/.",
    "http://h/..",
    "http://h/a/./b/",
    "http://example.com:8080/x",
    "http://h/%7Euser/page",
    "http://h/p;semi?q=1",
    "http://h/café",
    "http://h/caf%C3%A9",
    "http://h/á/../b",
    "http://h/p?café=é",
]


def test_parse_empty_string():
    # reference: Parse("") succeeds with empty URL; normalizeKey → "/"
    u = parse_url("")
    assert u is not None and normalize_key(u) == "/"
