"""Percent-encoding semantics ≡ Go net/url (ADVICE round 1).

Go url.Parse decodes escapes into u.Path (setPath), errors on invalid
escapes like %zz (the reference then skips the link, crawler.go:226-228),
and normalizeKey (url.go:52-72) cleans/keys the DECODED path. String()
emits EscapedPath(): the original raw text when it is a valid encoding,
else the canonical re-escape. These vectors encode that contract."""

import pytest

from crawlspark.purl import (
    URL,
    escape_path,
    normalize,
    normalize_key,
    parse_url,
    unescape_path,
    url_key_of,
)


# ---------------------------------------------------------------------------
# unescape / escape primitives
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "raw,want",
    [
        ("/a%20b", "/a b"),
        ("/%7euser", "/~user"),
        ("/%2e%2e/x", "/../x"),
        ("/plain", "/plain"),
        ("/a%2Fb", "/a/b"),  # encoded slash decodes into a separator
        ("/a%zz", None),  # invalid hex ⇒ parse error
        ("/a%2", None),  # short escape ⇒ parse error
        ("/a%", None),
        ("/%C3%A9", "é"[0] and "/é"),  # UTF-8 multi-byte
    ],
)
def test_unescape_path(raw, want):
    assert unescape_path(raw) == want


def test_escape_path_go_table():
    # unreserved + path-reserved stay; space/quote/percent escape
    assert escape_path("/a b") == "/a%20b"
    assert escape_path("/a/b:c;d=e@f,g&h+i$j") == "/a/b:c;d=e@f,g&h+i$j"
    assert escape_path("/a?b") == "/a%3Fb"  # '?' escapes inside a path
    assert escape_path("/é") == "/%C3%A9"
    assert escape_path("/a%b") == "/a%25b"


# ---------------------------------------------------------------------------
# parse / key / String round-trips (Go-semantics vectors)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "url,key",
    [
        # decoded path is the dedup key: escaped and literal forms collide
        ("http://h/a%20b", "/a b"),
        ("http://h/a b", "/a b"),
        # %2e decodes to '.', then path.Clean eats the dot-segments
        ("http://h/%2e%2e/x", "/x"),
        ("http://h/sub/%2e", "/sub"),
        # encoded slash becomes a real separator before cleaning
        ("http://h/a%2Fb/../c", "/a/c"),
        # query stays VERBATIM (RawQuery) — no decoding
        ("http://h/p%20q?x=%20", "/p q?x=%20"),
        ("http://h/%7Euser/", "/~user"),
    ],
)
def test_decoded_key(url, key):
    assert url_key_of(url) == key


@pytest.mark.parametrize(
    "url",
    ["http://h/a%zzb", "http://h/broken%2", "http://h/x%G1"],
)
def test_invalid_escape_is_parse_error(url):
    assert parse_url(url) is None
    assert url_key_of(url) is None


@pytest.mark.parametrize(
    "url,want",
    [
        # valid raw encodings are preserved by String (EscapedPath=RawPath)
        ("http://h/a%20b", "http://h/a%20b"),
        ("http://h/%2e%2e/x", "http://h/%2e%2e/x"),
        ("http://h/%41bc", "http://h/%41bc"),
        # literal space must re-escape (RawPath not a valid encoding)
        ("http://h/a b", "http://h/a%20b"),
        # sub-delims survive unescaped (validEncoded tolerates them)
        ("http://h/a(b)!*'", "http://h/a(b)!*'"),
        ("http://h/plain?q=%20#f", "http://h/plain?q=%20#f"),
    ],
)
def test_to_string_matches_go(url, want):
    assert parse_url(url).to_string() == want


def test_normalize_skips_invalid_escape_href():
    parent = parse_url("http://h/sub/page.html")
    assert normalize(parent, "/bad%zz") is None
    assert normalize(parent, "ok%20name") is not None


def test_normalize_relative_escaped_href():
    # relative escaped href resolves against the parent path (non-RFC
    # full-path-as-directory), then decodes
    parent = parse_url("http://h/sub")
    u = normalize(parent, "a%20b.html")
    assert u.path == "/sub/a b.html"
    assert normalize_key(u) == "/sub/a b.html"
    assert u.to_string() == "http://h/sub/a%20b.html"


def test_parent_decoded_path_reparses():
    # parent path decodes to a '%' that re-parses as an escape intro and
    # errors — Go has the identical emergent behavior (sprintf + re-Parse)
    parent = parse_url("http://h/a%25zz")  # path "/a%zz"
    assert parent.path == "/a%zz"
    assert normalize(parent, "child.html") is None


# escaped URL shapes for the Spark tiers (tests/test_spark_canon.py: the
# native masks must route every '%' path to the exact tier)
# ---------------------------------------------------------------------------

ESCAPED_URLS = [
    "http://h/a%20b",
    "http://h/a b",
    "http://h/%2e%2e/x",
    "http://h/a%zzb",
    "http://h/p?x=%20",
    "http://h/%7Euser/",
    "http://h/a%2Fb/../c",
    "http://h/plain",
]


# ---------------------------------------------------------------------------
# regex-dialect validation (patterns cross Python re / Java rlike / Go RE2)
# ---------------------------------------------------------------------------


def test_validate_pattern_accepts_portable_subset():
    from crawlspark.purl import validate_pattern

    for pat in [r"\.html$", r"^https?://", r"(foo|bar)/baz", r"[a-z0-9]+",
                r"(?:sub)/x", r"a{2,3}b"]:
        validate_pattern(pat)  # no raise


def test_validate_pattern_rejects_divergent_constructs():
    from crawlspark.purl import validate_pattern

    for pat in [r"(?P<name>x)", r"(?<=pre)x", r"(?=look)", r"(a)\1",
                r"\x{263A}", r"(unclosed"]:
        with pytest.raises(ValueError):
            validate_pattern(pat)


def test_crawl_config_validates_patterns(tmp_path):
    from crawlspark.engine import CrawlConfig

    CrawlConfig(checkpoint_dir=str(tmp_path), reject=[r"\.pdf$"])
    with pytest.raises(ValueError):
        CrawlConfig(checkpoint_dir=str(tmp_path), reject=[r"(?P<bad>x)"])
