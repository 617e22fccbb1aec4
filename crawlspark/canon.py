"""URL canonicalization + accept filter in Spark plans (U1/U2/U3, F1).

Two tiers per URL operation:

- The JVM tier: Java-regex masks and UTF8String byte ops that resolve and
  key the common clean shapes (an absolute canonical href, a clean
  root-relative href, a clean absolute seed) inside whole-stage codegen.
  The masks are deliberately conservative: every row whose result could
  differ from crawlspark.purl falls through.
- The exact tier: the pandas UDFs below, which call purl per row inside
  the Arrow batch, exactly as oracle.crawl does.

Tier equality is pinned by tests/test_spark_canon.py over adversarial
corpora. Host extraction (``regexp_extract``), the accept filter (folded
``rlike``, crawler.go:59-84) and the key hashing stay native.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from .purl import normalize, normalize_key, parse_url

# Native Spark regexes (Java dialect) for scan-level column derivation.
SQL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
SQL_NON_PRINTABLE_ASCII = r"[^\x20-\x7E]"  # control chars OR non-ASCII

# Java-regex masks for the NATIVE canonicalization tier. A row they admit
# must come out exactly as purl.normalize + to_string/normalize_key would
# give it — pinned by tests/test_spark_canon.py::
# test_native_canonize_matches_udf.
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


def empty_tail(nofrag, s):
    """True where purl drops an empty query or fragment off ``s`` (its
    to_string writes neither): ``nofrag``, the part of ``s`` before its
    first '#', ends in '?', or ``s`` ends in '#'. The native tiers emit
    their input verbatim, so they route such rows to the exact tier."""
    return nofrag.endswith("?") | s.endswith("#")


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


def _layer(df, **cols):
    """``df`` plus the named columns, built from ``df``'s own columns."""
    return df.select("*", *(c.alias(n) for n, c in cols.items()))


def canonize_links_prepared(df, href_col):
    """Canonicalization projection for candidate links, built in layers.

    Returns the passthrough columns plus:
      ``_cn``       routing flag — True where the href is fully resolved
                    JVM-side (clean absolute or clean root-relative form)
      ``url``/``host``/``url_key``  the native outputs (NULL on _cn=False
                    rows: the exact UDF resolves those later)
      ``_cp``/``_cf``  parent_url / raw href, kept ONLY on _cn=False rows
                    (NULL otherwise, so a checkpoint of this projection stays
                    narrow — clean rows never store their parent twice)

    The common case on a real web graph — an absolute, already-canonical
    href with a dot-segment-free path, or a clean root-relative href — is
    computed entirely JVM-side, and a caller that materializes the
    result (the engine checkpoints it) pays the byte ops once per link;
    canonize_links_split's two branches are then plain flag filters over
    the stored rows.

    Every intermediate (the fragment cut, the authority split, the
    root-relative path and query, the two tier masks) is a private
    column of its own ``select`` layer, built once from the columns of
    the layer below. A single Column tree would copy an intermediate's
    whole subtree into each of its uses (a 68-kchar plan holding the
    authority split ``locate('/', …)`` 160 times), and codegen's
    subexpression elimination cannot share an expression that only some
    CASE WHEN branches use. Each layer references its intermediates more
    than once, and CollapseProject never merges a Project into its child
    when that would copy a non-cheap expression, so the layers survive
    optimization (≈5 kchars) and whole-stage codegen evaluates each
    intermediate once per link.

    ``df`` must carry ``parent_url`` and its parent_cols plus
    passthrough columns; ``href_col`` is consumed.
    """
    from pyspark.sql import functions as F

    passthrough = [
        c
        for c in df.columns
        if c not in ("parent_url", href_col) and c not in _PRECOMP
    ]
    href, c = F.col(href_col), F.col
    pprefix, phost, parent_ok = (F.col(x) for x in _PRECOMP)

    # fragment is kept in the URL but never in the key (url.go:52-72).
    # Everything below the two fused rlike masks is UTF8String byte ops:
    # each regexp_* / rlike converts the row to java.lang.String first,
    # and at ~20 passes/link the conversions dominated the candidate
    # pipeline's CPU (event-log measured: the candidate stage was the
    # largest stage of the crawl). Two regex passes per link remain.
    # F.trim(href) feeds the ROOT-RELATIVE tier (below).
    df = _layer(
        df,
        _nofrag=F.substring_index(href, "#", 1),  # ≡ regexp_replace("#.*$")
        _trimmed=F.trim(href),
    )
    nofrag, trimmed = c("_nofrag"), c("_trimmed")
    # authority split for absolute hrefs (valid under abs_clean only —
    # unused garbage otherwise, guarded by the mask in every consumer):
    # rest = after '://'; host = rest up to first '/' or '?';
    # path = '/'-rooted remainder up to '?'; query = after first '?'.
    df = _layer(
        df,
        _rest=F.substring(nofrag, F.locate("://", nofrag) + 3, F.length(nofrag)),
        _qpos=F.locate("?", nofrag),
        _rr_nofrag=F.substring_index(trimmed, "#", 1),
    )
    rest, qpos, rr_nofrag = c("_rest"), c("_qpos"), c("_rr_nofrag")
    df = _layer(
        df,
        _hostq=F.substring_index(rest, "?", 1),
        _rr_path=F.substring_index(rr_nofrag, "?", 1),  # ≡ ^([^?#]*) capture
        _rr_qpos=F.locate("?", rr_nofrag),
    )
    hostq, rr_path, rr_qpos = c("_hostq"), c("_rr_path"), c("_rr_qpos")
    df = _layer(
        df,
        _query=F.when(
            qpos > 0, F.substring(nofrag, qpos + 1, F.length(nofrag))
        ).otherwise(F.lit("")),
        _rr_query=F.when(
            rr_qpos > 0,
            F.substring(rr_nofrag, rr_qpos + 1, F.length(rr_nofrag)),
        ).otherwise(F.lit("")),
        _slash=F.locate("/", hostq),
    )
    query, rr_query, slash = c("_query"), c("_rr_query"), c("_slash")
    df = _layer(
        df,
        _path=F.when(
            slash > 0, F.substring(hostq, slash, F.length(hostq))
        ).otherwise(F.lit("")),
        _host_abs=F.substring_index(hostq, "/", 1),
    )
    path, host_abs = c("_path"), c("_host_abs")

    # second native tier: ROOT-RELATIVE hrefs ("/x", U1 case 3 — the most
    # common relative form on real webs): resolve = parent scheme://host +
    # trimmed href, entirely JVM-side. Masks are deliberately conservative
    # so every row the exact parser could treat differently (unicode
    # whitespace trim, escapes, dot segments, an empty query or fragment,
    # odd parents) falls through.
    # The parent-derived columns come precomputed (parent_cols).
    df = _layer(
        df,
        _is_native=(
            href.isNotNull()
            # ONE regex: SQL_ABS_SIMPLE ∧ printable-ASCII (see SQL_ABS_CLEAN)
            & href.rlike(SQL_ABS_CLEAN)
            & ~_sql_path_needs_clean(path)
            & ~path.contains("%")  # escaped paths percent-decode ⇒ exact
            & ~empty_tail(nofrag, href)
        ),
        _is_rootrel=(
            href.isNotNull()
            # ONE regex on trim(href): rooted + printable charset. `^/`
            # also implies not-absolute, and the printable class implies
            # the old separate [^\x20-\x7E] href check (F.trim strips only
            # \x20, so any non-printable byte survives into trimmed and
            # fails the class) — so F.trim ≡ Go TrimSpace on every
            # accepted row.
            & trimmed.rlike(SQL_ROOTED_CLEAN)
            & ~trimmed.startswith("//")  # protocol-relative: distinct case
            & parent_ok  # clean parent whose path re-parses unchanged
            & ~_sql_path_needs_clean(rr_path)
            & ~rr_path.contains("%")
            & ~empty_tail(rr_nofrag, trimmed)
        ),
    )
    is_native, is_rootrel = c("_is_native"), c("_is_rootrel")
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


def canonize_links_split(pre, udf, exact=True):
    """(fast, slow) sides over a canonize_links_prepared projection.

    ``fast`` = the _cn rows with their precomputed (url, host, url_key);
    ``slow`` = the ~_cn rows resolved by the exact UDF. Both carry
    passthrough + (url, host, url_key) in identical order; their
    unionByName is the full candidate set. When ``pre`` is materialized
    (the engine checkpoints it), each side is a plain flag filter over
    the stored rows — no mask tower, no regex re-evaluation. Callers
    should materialize ``slow`` too before more than one read: a
    checkpoint runs the UDF once, and its leaf keeps filter pushdown
    from cloning the UDF into a Filter. ``exact=False`` (the caller
    counted no ~_cn row) returns ``slow`` as None: no UDF in the plan,
    so no Python worker starts for empty batches."""
    from pyspark.sql import functions as F

    passthrough = [c for c in pre.columns if c not in _PREPARED]
    fast = pre.filter(F.col("_cn")).select(
        *passthrough, "url", "host", "url_key"
    )
    if not exact:
        return fast, None
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


def _abs_path_query(url):
    """Path and query of an absolute URL column, fragment dropped."""
    from pyspark.sql import functions as F

    nofrag = F.regexp_replace(url, "#.*$", "")
    path = F.regexp_extract(nofrag, r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(nofrag, r"\?([^#]*)", 1)
    return path, query


def url_native(url):
    """Non-null routing flag of canonize_urls: True where the URL column
    ``url`` is keyed JVM-side, False where it takes the exact UDF."""
    from pyspark.sql import functions as F

    path, _ = _abs_path_query(url)
    return F.coalesce(
        url.isNotNull()
        & url.rlike(SQL_ABS_SIMPLE)
        & ~url.rlike(SQL_NON_PRINTABLE_ASCII)  # ctrl chars + raw non-ASCII
        & ~path.rlike(SQL_PATH_NEEDS_CLEAN)
        & ~path.contains("%")  # escaped paths percent-decode ⇒ exact path
        & ~empty_tail(F.substring_index(url, "#", 1), url),
        F.lit(False),
    )


def canonize_urls(df, url_col, url_key_udf, exact=True):
    """Canonical ``url_col`` and its ``url_key`` for raw URL strings (the
    seed path — no parent resolution: purl's parse + to_string and U3).
    Same native/exact split as the link path: the common clean absolute
    URL (``url_native``), already canonical, is keyed ENTIRELY JVM-side;
    odd rows (dot-segments, control chars, an uppercase scheme, an empty
    query, opaque/relative forms) take the exact UDF, which rewrites the
    URL as well as keying it. Keeps seeding off the Python path
    for large seed tables (10^5+ seeds on the bench graph; 10^8+ at web
    scale). ``exact=False`` (the caller counted no non-native row)
    leaves the UDF branch out of the plan. Rows purl cannot key (a NULL
    ``url_key``) are dropped: only the exact side has any, and its
    filter stays above the UDF, so each row is keyed once."""
    from pyspark.sql import functions as F

    url = F.col(url_col)
    native = url_native(url)
    path, query = _abs_path_query(url)
    cleaned = F.regexp_replace(path, r"(.)/$", "$1")
    key = F.when(cleaned == "", F.lit("/")).otherwise(cleaned)
    key = F.when(query != "", F.concat(key, F.lit("?"), query)).otherwise(key)

    fast = df.filter(native).withColumn("url_key", key)
    if not exact:
        return fast
    # a one-element explode: a filter on its output cannot be pushed
    # below the Generate, so it never clones the UDF into a Filter
    slow = (
        df.filter(~native)
        .select("*", F.explode(F.array(url_key_udf(url))).alias("_c"))
        .withColumn(url_col, F.col("_c.url"))
        .withColumn("url_key", F.col("_c.url_key"))
        .drop("_c")
        .filter(F.col("url_key").isNotNull())
    )
    return fast.unionByName(slow)


# ---------------------------------------------------------------------------
# The exact tier: purl per row inside each Arrow batch
# ---------------------------------------------------------------------------


def _link_row(parent, href):
    """(url, host, url_key) of link ``href`` on page ``parent``, as
    oracle.crawl derives them; all None where the reference skips the
    link. A parent that does not parse still resolves absolute hrefs."""
    p = parse_url(parent)
    if p is not None:
        u = normalize(p, href)
    else:
        u = parse_url(href)
        if u is not None and not u.is_abs:
            u = None
    if u is None:
        return None, None, None
    return u.to_string(), u.host, normalize_key(u)


def _url_row(raw):
    """(url, url_key) of a raw URL, as oracle.crawl pushes a seed; both
    None when it does not parse."""
    u = parse_url(raw)
    if u is None:
        return None, None
    return u.to_string(), normalize_key(u)


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

    def _struct(*names):
        return T.StructType([T.StructField(n, T.StringType()) for n in names])

    @F.pandas_udf(_struct("url", "url_key"))
    def url_key_udf(urls: pd.Series) -> pd.DataFrame:
        with _no_gc():
            return pd.DataFrame(
                [_url_row(u) for u in urls], columns=["url", "url_key"]
            )

    @F.pandas_udf(_struct("url", "host", "url_key"))
    def canonize_udf(parent_urls: pd.Series, hrefs: pd.Series) -> pd.DataFrame:
        with _no_gc():
            return pd.DataFrame(
                [_link_row(p, h) for p, h in zip(parent_urls, hrefs)],
                columns=["url", "host", "url_key"],
            )

    # NOTE on double evaluation: a deterministic Python UDF referenced by
    # both a Filter and a Project gets cloned by filter pushdown and was
    # measured evaluating 2-3x per row. The engine prevents this with a
    # local checkpoint between the UDF projection and the filters
    # (engine.py candidate pipeline), and the seed path with a Generate
    # (canonize_urls) — NOT by marking the UDFs
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
    url_col, host_c, hosts: Sequence[str], reject: Sequence[str],
    accept_pats: Sequence[str],
):
    """F1 with a pre-computed host column (from the fused canonize UDF) —
    saves re-deriving the host by regexp on the hot path. Host membership
    is a literal ``isin``: ``=`` for one host, ``INSET`` past ten."""
    from pyspark.sql import functions as F

    c = F.col(url_col) if isinstance(url_col, str) else url_col
    h = F.col(host_c) if isinstance(host_c, str) else host_c
    pred = h.isin(list(hosts))
    for pat in reject:
        pred = pred & ~c.rlike(pat)
    if accept_pats:
        any_acc = F.lit(False)
        for pat in accept_pats:
            any_acc = any_acc | c.rlike(pat)
        pred = pred & any_acc
    return pred


def accept_filter_col(
    url_col, host: str, reject: Sequence[str], accept_pats: Sequence[str]
):
    """Native F1 predicate: folded rlike chain — fully inside whole-stage
    codegen, pushed below the UDF stages by Catalyst where legal."""
    return accept_filter_with_host(
        url_col, host_col(url_col), [host], reject, accept_pats
    )
