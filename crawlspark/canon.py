"""Vectorized URL canonicalization + accept filter (U1/U2/U3, F1).

The per-row golden contract lives in crawlspark.purl; this module is the
Arrow-batch realization used in Spark plans. Strategy (SURVEY.md §2.3):

- The common URL shapes are handled with true pandas vectorized string ops
  (str.extract masks + boolean-mask concatenation — no Python per row).
- Rows the fast path cannot express exactly (dot-segments, `//` runs,
  unusual schemes, whitespace edge cases) drop to a ``Series.map`` of the
  pure functions *inside the Arrow batch* — still no per-row Python at the
  Spark row level, and rare in practice (every fallback is mask-counted so
  tests can assert the fast path actually covers the corpus).
- Equivalence fast-path ≡ purl is pinned exhaustively by
  tests/test_canon_vectorized.py over adversarial corpora.

Native (JVM/codegen) helpers are preferred wherever bit-exact: host/scheme
extraction via ``regexp_extract``, the accept filter via folded ``rlike``
(F1, crawler.go:59-84), key hashing via ``xxhash64``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .purl import normalize, normalize_key, parse_url, url_key_of

# RFC-3986-style splitter; group order: scheme, host, path, query, fragment.
_URL_PARTS = (
    r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?"  # 1 scheme
    r"(?://([^/?#]*))?"  # 2 host (authority)
    r"([^?#]*)"  # 3 path
    r"(?:\?([^#]*))?"  # 4 query
    r"(?:#(.*))?$"  # 5 fragment
)

# Native Spark regexes (Java dialect) for scan-level column derivation.
SQL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
SQL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*):"

_CTRL = r"[\x00-\x1f\x7f]"

# Any char outside printable ASCII. The exact parser (Go net/url String(),
# url.go:33 round-trip) percent-escapes raw non-ASCII in paths, so every
# fast path that would emit the input verbatim must exclude them
# (ADVICE r2: fast≡exact held only because test corpora were ASCII).
_NON_ASCII = r"[^\x00-\x7f]"
SQL_NON_PRINTABLE_ASCII = r"[^\x20-\x7E]"  # control chars OR non-ASCII

# paths the vectorized cleaner handles: no dot-segments, no double slashes
_NEEDS_CLEAN = r"(?://)|(?:^|/)\.\.?(?:/|$)"


def _split(urls: pd.Series) -> pd.DataFrame:
    parts = urls.str.extract(_URL_PARTS)
    parts.columns = ["scheme", "host", "path", "query", "fragment"]
    return parts


def pd_url_key(urls: pd.Series) -> pd.Series:
    """Vectorized U3 (normalizeKey, url.go:52-72): cleaned path with leading
    slash (empty ⇒ "/"), plus "?"+query verbatim. Fast path covers paths
    without dot-segments/double slashes; others fall back to purl."""
    urls = urls.astype("string")
    parts = _split(urls)
    path = parts["path"].fillna("")
    query = parts["query"]

    fast = ~path.str.contains(_NEEDS_CLEAN, regex=True, na=False)
    fast &= ~urls.str.contains(_CTRL, regex=True, na=False)
    fast &= ~urls.str.contains(_NON_ASCII, regex=True, na=False)
    # escaped paths percent-decode into the key (Go url.Parse → u.Path);
    # any '%' in the path falls back to the exact parser ('%' in the
    # query is fine — RawQuery is kept verbatim)
    fast &= ~path.str.contains("%", regex=False, na=False)
    # opaque URLs (scheme + non-slash rest) are not keyable on the fast path
    fast &= ~(parts["scheme"].notna() & parts["host"].isna() & ~path.str.startswith("/") & (path != ""))

    # clean for dot-free paths = strip one trailing slash (keep root "/")
    p = path.str.replace(r"(.)/$", r"\1", regex=True)
    p = p.mask((p != "") & ~p.str.startswith("/"), "/" + p)
    p = p.mask(p == "", "/")
    key = p.where(query.isna() | (query == ""), p + "?" + query.fillna(""))

    slow = ~fast
    if slow.any():
        key = key.mask(slow, urls[slow].map(url_key_of))
    key = key.mask(urls.isna(), None)
    return key.astype(object).where(key.notna(), None)


def pd_host(urls: pd.Series) -> pd.Series:
    """Authority (Go url.Host: hostname[:port], no userinfo handling needed
    for crawl URLs)."""
    return _split(urls.astype("string"))["host"].fillna("")


def _join_host_map(parents: pd.Series) -> pd.Series:
    """join(host, path) per parent (U2) — computed once per *unique* parent
    (one page yields many links), then broadcast back. Python cost is
    O(unique pages), not O(links)."""
    uniq = pd.Series(parents.unique())
    mapped = {}
    for s in uniq.dropna():
        u = parse_url(s)
        if u is None:
            mapped[s] = None
            continue
        from .purl import join_host

        mapped[s] = (u.scheme, u.host, join_host(u.host, u.path))
    return parents.map(mapped)


def pd_resolve(parent_urls: pd.Series, hrefs: pd.Series) -> pd.Series:
    """Vectorized U1 (normalize, url.go:9-34). Returns the resolved absolute
    URL string, or None where the reference would skip the link."""
    hrefs = hrefs.astype("string")
    parent_urls = parent_urls.astype("string")
    n = len(hrefs)
    out = pd.Series([None] * n, index=hrefs.index, dtype=object)

    bad = hrefs.isna() | hrefs.str.contains(_CTRL, regex=True, na=True)
    ok = ~bad

    # absolute? (Go: url.Parse(href).IsAbs() — scheme present, checked on the
    # RAW href: leading whitespace defeats scheme detection)
    abs_mask = ok & hrefs.str.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", na=False)
    # fast absolute: already in canonical Parse→String form; a '%' in the
    # path part may re-escape or fail (invalid escape ⇒ skip) — exact path
    path_part = hrefs.str.replace(r"[?#].*$", "", regex=True)
    abs_fast = (
        abs_mask
        & hrefs.str.match(r"^[a-z][a-z0-9+.\-]*://[^\s<>\"{}|\\^`]*$", na=False)
        & ~path_part.str.contains("%", regex=False, na=False)
        & ~hrefs.str.contains(_NON_ASCII, regex=True, na=False)
    )
    out[abs_fast] = hrefs[abs_fast]
    abs_slow = abs_mask & ~abs_fast
    if abs_slow.any():
        out[abs_slow] = hrefs[abs_slow].map(
            lambda h: (lambda u: u.to_string() if u is not None else None)(parse_url(h))
        )

    rel = ok & ~abs_mask
    if rel.any():
        trimmed = hrefs.str.strip()
        pinfo = _join_host_map(parent_urls)
        pscheme = pinfo.map(lambda t: t[0] if t else None)
        phost = pinfo.map(lambda t: t[1] if t else None)
        pjoin = pinfo.map(lambda t: t[2] if t else None)

        frag = rel & trimmed.str.startswith("#")
        proto = rel & trimmed.str.startswith("//") & ~frag
        root = rel & trimmed.str.startswith("/") & ~proto & ~frag
        other = rel & ~frag & ~proto & ~root

        cand = pd.Series([None] * n, index=hrefs.index, dtype=object)
        cand[frag] = pscheme[frag] + "://" + pjoin[frag] + trimmed[frag]
        cand[proto] = pscheme[proto] + ":" + trimmed[proto]
        cand[root] = pscheme[root] + "://" + phost[root] + trimmed[root]
        cand[other] = pscheme[other] + "://" + pjoin[other] + "/" + trimmed[other]

        # final url.Parse round-trip (url.go:33 "verify, normalize url"):
        # identity for clean constructed strings; python fallback otherwise
        # (a '%' in the constructed path — from the href OR the parent's
        # decoded path — must re-parse: Go re-decodes and may error)
        built = cand.notna() & rel
        cand_s = pd.Series(cand, dtype="string")
        cand_path = cand_s.str.replace(r"[?#].*$", "", regex=True)
        clean = (
            built
            & cand_s.str.match(
                r"^[a-z][a-z0-9+.\-]*://[^\s<>\"{}|\\^`]*$", na=False
            )
            & ~cand_path.str.contains("%", regex=False, na=False)
            # the constructed URL can carry raw non-ASCII from the href OR
            # from the parent's decoded path — the round-trip re-escapes it
            & ~cand_s.str.contains(_NON_ASCII, regex=True, na=False)
        )
        out[clean] = cand[clean]
        dirty = built & ~clean
        if dirty.any():
            out[dirty] = cand[dirty].map(
                lambda h: (lambda u: u.to_string() if u is not None else None)(
                    parse_url(h)
                )
            )
    return out


def pd_accept(
    urls: pd.Series, host: str, reject: list[str], accept_pats: list[str]
) -> pd.Series:
    """Vectorized F1 over resolved URL strings (host equality + regex lists;
    reject wins; empty accept ⇒ accept all). Used by tests and the oracle
    path; in Spark plans the same predicate is expressed natively via
    accept_filter_col (rlike folds) so Catalyst can push/fuse it."""
    if host == "":
        raise ValueError("empty crawl host")
    res = pd_host(urls) == host
    for pat in reject:
        res &= ~urls.str.contains(pat, regex=True, na=False)
    if accept_pats:
        any_acc = pd.Series(False, index=urls.index)
        for pat in accept_pats:
            any_acc |= urls.str.contains(pat, regex=True, na=False)
        res &= any_acc
    return res.fillna(False)


# Java-regex masks for the NATIVE canonicalization fast path. They must
# match pd_resolve's abs_fast mask and pd_url_key's fast mask exactly —
# pinned by tests/test_spark_canon.py::test_native_canonize_matches_udf.
SQL_ABS_SIMPLE = r"^[a-z][a-z0-9+.\-]*://[^\s<>\x22{}|\\^`]*$"
SQL_PATH_NEEDS_CLEAN = r"(//)|((^|/)\.\.?(/|$))"

# Fused single-regex masks for the candidate hot path. Each folds the old
# two-regex conjunction (shape mask AND printable-ASCII mask) into one
# java.util.regex pass via char-class intersection: the body class is
# printable-ASCII-minus-space (\x21-\x7E) minus the URL-breaking specials
# of SQL_ABS_SIMPLE. Equivalence with (SQL_ABS_SIMPLE & ~[^\x20-\x7E]):
# SQL_ABS_SIMPLE's [^\s...] already excluded \x20, so the conjunction's
# net charset is exactly \x21-\x7E minus the specials. Every rlike in
# Spark converts the UTF8String row to a java.lang.String first, so
# halving regex passes halves the dominant allocation traffic of the
# candidate pipeline (the 100k-page event logs show this stage as the
# single largest CPU term).
SQL_ABS_CLEAN = (
    r"^[a-z][a-z0-9+.\-]*://[\x21-\x7E&&[^<>\x22{}|\\^`]]*$"
)
# Rooted-relative tier in ONE pass over trim(href): `^/` implies the href
# cannot match ^[A-Za-z][A-Za-z0-9+.\-]*: (not absolute — F.trim strips
# only \x20, and neither ' ' nor '/' starts a scheme), and the printable
# body class implies the old separate [^\x20-\x7E] href check (any
# non-printable survives the space-only trim and fails the class).
SQL_ROOTED_CLEAN = r"^/[\x21-\x7E&&[^<>\x22{}|\\^`]]*$"


def _sql_path_needs_clean(path):
    """SQL_PATH_NEEDS_CLEAN as pure UTF8String byte ops (no regex, no
    String conversion): `//` anywhere, or `.`/`..` as a complete path
    segment. Truth-table equal to the regex (tests pin it)."""
    from pyspark.sql import functions as F

    return (
        path.contains("//")
        | (path == ".")
        | (path == "..")
        | path.startswith("./")
        | path.startswith("../")
        | path.endswith("/.")
        | path.endswith("/..")
        | path.contains("/./")
        | path.contains("/../")
    )


def _sql_mk_key(pcol, qcol):
    """normalizeKey tail: strip ONE trailing slash (keep root), empty ⇒
    "/", append "?"+query verbatim when non-empty — as byte ops
    (≡ regexp_replace(p, "(.)/$", "$1") + the old when-chain)."""
    from pyspark.sql import functions as F

    cleaned = F.when(
        pcol.endswith("/") & (F.length(pcol) > 1),
        F.substring(pcol, 1, F.length(pcol) - 1),
    ).otherwise(pcol)
    k = F.when(cleaned == "", F.lit("/")).otherwise(cleaned)
    return F.when(qcol != "", F.concat(k, F.lit("?"), qcol)).otherwise(k)


# private parent columns (parent_cols) hoisted above the link explode;
# consumed by canonize_links_prepared and never leaked into any output
# schema
_PRECOMP = ("_pprefix", "_phost", "_parent_ok")
# private columns of the prepared projection (canonize_links_prepared)
_PREPARED = ("_cn", "url", "host", "url_key", "_cp", "_cf")


def parent_cols(url):
    """The _PRECOMP columns of the page URL column ``url``: its
    ``scheme://host`` prefix, its host, and whether it is a clean parent
    (absolute, canonical, no escape in the path) that root-relative
    hrefs can resolve against natively. Select them BEFORE the link
    explode, so each page's regexes run once instead of once per link."""
    from pyspark.sql import functions as F

    ppath = F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    return [
        F.regexp_extract(url, r"^([a-z][a-z0-9+.\-]*://[^/?#]*)", 1)
        .alias("_pprefix"),
        F.regexp_extract(url, SQL_HOST_RE, 1).alias("_phost"),
        (url.rlike(SQL_ABS_SIMPLE) & ~ppath.contains("%")).alias("_parent_ok"),
    ]


def canonize_links_prepared(df, href_col):
    """ONE-PASS canonicalization projection for candidate links.

    Returns the passthrough columns plus:
      ``_cn``       routing flag — True where the href is fully resolved
                    JVM-side (clean absolute or clean root-relative form)
      ``url``/``host``/``url_key``  the native outputs (NULL on _cn=False
                    rows: the exact pandas UDF resolves those later)
      ``_cp``/``_cf``  parent_url / raw href, kept ONLY on _cn=False rows
                    (NULL otherwise, so a cache of this projection stays
                    narrow — clean rows never store their parent twice)

    Scale design: the overwhelmingly common case on a real web graph —
    an absolute, already-canonical href with a dot-segment-free path, or
    a clean root-relative href — is computed ENTIRELY JVM-side. The whole
    mask battery and all value expressions are evaluated in this SINGLE
    projection, so a caller that persists the result pays the regex/byte
    ops exactly ONCE per link; canonize_links_split's two branches are
    then plain flag filters over the cache. (The previous shape — a union
    of two FILTERED-then-projected branches straight off the exploded
    links — re-evaluated the mask towers per branch and per output column
    across the filter/project boundary; the round-4 event logs showed
    that stage as the largest of the crawl at 10^6-page scale, and the
    micro-bench measured the one-pass cached shape ~4x faster at 19.35M
    links: 27.8s vs 106.2s for materialize+agg on local[32].)

    ``df`` must carry ``parent_url`` and its parent_cols plus
    passthrough columns; ``href_col`` is consumed.
    """
    from pyspark.sql import functions as F

    passthrough = [
        c
        for c in df.columns
        if c not in ("parent_url", href_col) and c not in _PRECOMP
    ]
    href = F.col(href_col)

    # fragment is kept in the URL but never in the key (url.go:52-72).
    # Everything below the two fused rlike masks is UTF8String byte ops:
    # each regexp_* / rlike converts the row to java.lang.String first,
    # and at ~20 passes/link the conversions dominated the candidate
    # pipeline's CPU (event-log measured: the fused-agg stage IS the
    # largest stage of the crawl). Two regex passes per link remain.
    nofrag = F.substring_index(href, "#", 1)  # ≡ regexp_replace("#.*$")
    # authority split for absolute hrefs (valid under abs_clean only —
    # unused garbage otherwise, guarded by the mask in every consumer):
    # rest = after '://'; host = rest up to first '/' or '?';
    # path = '/'-rooted remainder up to '?'; query = after first '?'.
    rest = F.substring(nofrag, F.locate("://", nofrag) + 3, F.length(nofrag))
    hostq = F.substring_index(rest, "?", 1)
    slash = F.locate("/", hostq)
    path = F.when(
        slash > 0, F.substring(hostq, slash, F.length(hostq))
    ).otherwise(F.lit(""))
    qpos = F.locate("?", nofrag)
    query = F.when(
        qpos > 0, F.substring(nofrag, qpos + 1, F.length(nofrag))
    ).otherwise(F.lit(""))
    host_abs = F.substring_index(hostq, "/", 1)

    is_native = (
        href.isNotNull()
        # ONE regex: SQL_ABS_SIMPLE ∧ printable-ASCII (see SQL_ABS_CLEAN)
        & href.rlike(SQL_ABS_CLEAN)
        & ~_sql_path_needs_clean(path)
        & ~path.contains("%")  # escaped paths percent-decode ⇒ exact path
    )

    # second native tier: ROOT-RELATIVE hrefs ("/x", U1 case 3 — the most
    # common relative form on real webs): resolve = parent scheme://host +
    # trimmed href, entirely JVM-side. Masks are deliberately conservative
    # so every row the exact parser could treat differently (unicode
    # whitespace trim, escapes, dot segments, odd parents) falls through.
    # The parent-derived columns come precomputed (parent_cols).
    pprefix, phost, parent_ok = (F.col(c) for c in _PRECOMP)
    trimmed = F.trim(href)
    rr_nofrag = F.substring_index(trimmed, "#", 1)
    rr_path = F.substring_index(rr_nofrag, "?", 1)  # ≡ ^([^?#]*) capture
    rr_qpos = F.locate("?", rr_nofrag)
    rr_query = F.when(
        rr_qpos > 0, F.substring(rr_nofrag, rr_qpos + 1, F.length(rr_nofrag))
    ).otherwise(F.lit(""))
    is_rootrel = (
        href.isNotNull()
        # ONE regex on trim(href): rooted + printable charset. `^/` also
        # implies not-absolute, and the printable class implies the old
        # separate [^\x20-\x7E] href check (F.trim strips only \x20, so
        # any non-printable byte survives into trimmed and fails the
        # class) — so F.trim ≡ Go TrimSpace on every accepted row.
        & trimmed.rlike(SQL_ROOTED_CLEAN)
        & ~trimmed.startswith("//")  # protocol-relative is a distinct case
        & parent_ok  # clean parent whose path re-parses unchanged
        & ~_sql_path_needs_clean(rr_path)
        & ~rr_path.contains("%")
    )

    native_any = F.coalesce(is_native, F.lit(False)) | F.coalesce(
        is_rootrel, F.lit(False)
    )

    # value columns use when(abs).when(rootrel) with NO otherwise, so
    # non-native rows store NULLs (never the unguarded garbage the
    # absolute-authority split produces on relative hrefs)
    return df.select(
        *passthrough,
        native_any.alias("_cn"),
        F.when(is_native, href)
        .when(is_rootrel, F.concat(pprefix, trimmed))
        .alias("url"),
        F.when(is_native, host_abs).when(is_rootrel, phost).alias("host"),
        F.when(is_native, _sql_mk_key(path, query))
        .when(is_rootrel, _sql_mk_key(rr_path, rr_query))
        .alias("url_key"),
        F.when(~native_any, F.col("parent_url")).alias("_cp"),
        F.when(~native_any, href).alias("_cf"),
    )


def canonize_links_split(pre, udf):
    """(fast, slow) sides over a canonize_links_prepared projection.

    ``fast`` = the _cn rows with their precomputed (url, host, url_key);
    ``slow`` = the ~_cn rows resolved by the exact pandas UDF. Both carry
    passthrough + (url, host, url_key) in identical order; their
    unionByName is the full candidate set. When ``pre`` is persisted,
    each side is a plain flag filter over the cache — no mask tower, no
    regex re-evaluation."""
    from pyspark.sql import functions as F

    passthrough = [c for c in pre.columns if c not in _PREPARED]
    fast = pre.filter(F.col("_cn")).select(
        *passthrough, "url", "host", "url_key"
    )
    slow = pre.filter(~F.col("_cn")).select(
        *passthrough,
        udf(F.col("_cp"), F.col("_cf")).alias("c"),
    ).select(
        *passthrough,
        F.col("c.url").alias("url"),
        F.col("c.host").alias("host"),
        F.col("c.url_key").alias("url_key"),
    )
    return fast, slow


def canonize_urls(df, url_col, url_key_udf):
    """Derive ``url_key`` for raw URL strings (the seed path — no parent
    resolution, just U3). Same native/exact split as the link path: the
    common clean absolute URL is keyed ENTIRELY JVM-side; odd rows
    (dot-segments, control chars, opaque/relative forms) take the exact
    pandas UDF. Keeps seeding off the Python path for large seed tables
    (10^5+ seeds on the bench graph; 10^8+ at web scale)."""
    from pyspark.sql import functions as F

    url = F.col(url_col)
    nofrag = F.regexp_replace(url, "#.*$", "")
    path = F.regexp_extract(nofrag, r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(nofrag, r"\?([^#]*)", 1)

    is_native = (
        url.isNotNull()
        & url.rlike(SQL_ABS_SIMPLE)
        & ~url.rlike(SQL_NON_PRINTABLE_ASCII)  # ctrl chars + raw non-ASCII
        & ~path.rlike(SQL_PATH_NEEDS_CLEAN)
        & ~path.contains("%")  # escaped paths percent-decode ⇒ exact path
    )

    cleaned = F.regexp_replace(path, r"(.)/$", "$1")
    key = F.when(cleaned == "", F.lit("/")).otherwise(cleaned)
    key = F.when(query != "", F.concat(key, F.lit("?"), query)).otherwise(key)

    fast = df.filter(is_native).withColumn("url_key", key)
    slow = df.filter(~F.coalesce(is_native, F.lit(False))).withColumn(
        "url_key", url_key_udf(url)
    )
    return fast.unionByName(slow)


# ---------------------------------------------------------------------------
# Spark-side wrappers
# ---------------------------------------------------------------------------


def pd_canonize(parent_urls: pd.Series, hrefs: pd.Series) -> pd.DataFrame:
    """Fused U1+U3: resolve the href and derive (url, host, url_key) in ONE
    vectorized pass — one Arrow transfer instead of three separate UDF
    evaluations."""
    url = pd_resolve(parent_urls, hrefs)
    url_s = pd.Series(url, dtype="string")
    parts = _split(url_s)
    host = parts["host"].fillna("").astype(object)
    key = pd_url_key(url_s)
    return pd.DataFrame({"url": url, "host": host, "url_key": key})


def register_udfs():
    """Create the pandas UDF objects (deferred import so pure-Python callers
    never need a JVM)."""
    import contextlib
    import gc as _gc

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @contextlib.contextmanager
    def _no_gc():
        # long-lived pyspark workers accumulate large heaps (Arrow buffers,
        # pandas state); CPython's cycle collector sweeping them on every
        # allocation storm was measured inflating batch time several-fold.
        # The UDF bodies build no reference cycles — pause it per batch.
        was = _gc.isenabled()
        _gc.disable()
        try:
            yield
        finally:
            if was:
                _gc.enable()

    @F.pandas_udf(T.StringType())
    def url_key_udf(urls: pd.Series) -> pd.Series:
        with _no_gc():
            return pd_url_key(urls)

    canon_t = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("url_key", T.StringType()),
        ]
    )

    @F.pandas_udf(canon_t)
    def canonize_udf(parent_urls: pd.Series, hrefs: pd.Series) -> pd.DataFrame:
        with _no_gc():
            return pd_canonize(parent_urls, hrefs)

    # NOTE on double evaluation: a deterministic Python UDF referenced by
    # both a Filter and a Project gets cloned by filter pushdown and was
    # measured evaluating 2-3x per row. The engine prevents this with an
    # explicit persist barrier between the UDF projection and the filters
    # (engine.py candidate pipeline) — NOT by marking the UDFs
    # non-deterministic, which blocked enough other optimizations to be a
    # net 7x loss on the window/anti-join stages.
    return {"url_key": url_key_udf, "canonize": canonize_udf}


def host_col(url_col):
    """Native host extraction (JVM regexp_extract — empty string when no
    authority, matching Go url.Host)."""
    from pyspark.sql import functions as F

    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(c, SQL_HOST_RE, 1)


def accept_filter_with_host(
    url_col, host_c, host: str, reject: list[str], accept_pats: list[str]
):
    """F1 with a pre-computed host column (from the fused canonize UDF) —
    saves re-deriving the host by regexp on the hot path."""
    from pyspark.sql import functions as F

    c = F.col(url_col) if isinstance(url_col, str) else url_col
    h = F.col(host_c) if isinstance(host_c, str) else host_c
    pred = h == F.lit(host)
    for pat in reject:
        pred = pred & ~c.rlike(pat)
    if accept_pats:
        any_acc = F.lit(False)
        for pat in accept_pats:
            any_acc = any_acc | c.rlike(pat)
        pred = pred & any_acc
    return pred


def accept_filter_col(url_col, host: str, reject: list[str], accept_pats: list[str]):
    """Native F1 predicate: folded rlike chain — fully inside whole-stage
    codegen, pushed below the UDF stages by Catalyst where legal."""
    from pyspark.sql import functions as F

    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return accept_filter_with_host(c, host_col(c), host, reject, accept_pats)
