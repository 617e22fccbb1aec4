"""Fused parse stage (P1-P4): one Arrow pass per round turns fetched
pages into (spans, links) — HTML parse runs exactly once per page and its
two products stay nested until after the documents write, so the expensive
work is never recomputed (SURVEY.md P3: the reference pipelines
guards→get→parse→extract→process in one worker pass, crawler.go:184-215).

Per-row Python at the *Spark* level: none — batches arrive as Arrow
RecordBatches (``mapInArrow``); the per-document HTML parse inside the
batch is the same inherently-per-document work the reference does per URL,
minus the serialization (Arrow moves the batch in one copy).

Why mapInArrow and not mapInPandas: the output columns are nested
(array<struct> spans/links). With mapInPandas those must be pandas object
columns of per-row list-of-dict, and the worker-side pandas→Arrow
conversion walks every dict per field — measured 8x per-page inflation at
16 workers (memory-allocator traffic, not parse CPU): 60k pages took 20s
at local[4] but 42s at local[16]. Building the nested Arrow arrays
directly from flat Python lists (one ``pa.StructArray``/``pa.ListArray``
per batch, C++ builders) removed the collapse: 11.7s at local[4], 10.7s at
local[16] on the identical input. This is the difference between a stage
that scales with executors and one that inverts at cluster width.
"""

from __future__ import annotations

from typing import Iterator

from .htmlparse import extract, spans_from_extractor
from .purl import parse_url
from .schemas import PARSED

_PASSTHROUGH = ["url", "host", "url_key", "round", "disc_order", "priority"]

# ---------------------------------------------------------------------------
# JVM-native fast tier (P2/P4) — the canon.py two-tier pattern applied to
# link/span extraction. A page whose HTML full-matches the CLEAN grammar
# below is provably extracted identically by (a) html.parser pre-order
# events and (b) one regexp pass + a split on tag boundaries — so those
# pages never cross the Arrow boundary into Python at all. Everything else
# (entities, comments, script/style, uppercase tags, extra attributes,
# single quotes, exotic whitespace, '%'-escapes in media srcs, ...) routes
# to the exact mapInArrow path. The routing predicate is deliberately
# conservative: any construct whose native handling is not bit-exact makes
# the page "dirty". Equality fast≡exact is pinned by
# tests/test_native_parse.py over the synth corpora + adversarial pages.
#
# Why this exists: the per-page Python parse was the one stage still paying
# per-page Python at cluster width (BENCH/BASELINE.md r3: 0.96→1.87 ms/page
# from 2 to 8 workers — CPython allocator traffic, not parse CPU — the
# residual that failed the N→4N ≥0.8 scaling gate). Java regex with
# possessive quantifiers is linear, allocation-light, and scales with
# JVM threads.
# ---------------------------------------------------------------------------

# Segment separator / media-payload marker sentinels. Excluded from every
# char class of the grammar, so they cannot occur in a clean page.
_SEG = "\u0000"
_MED = "\u0001"

# Text chars: ASCII-only POSITIVE class — \t \n \x0b \f \r plus
# printable 0x20-0x7E minus '<' (tag start) and '&' (charref decode). A
# positive class whose members are all < 0x100 compiles to
# java.util.regex's BitClass bitmap; a class containing ANY codepoint
# > 0xFF (the previous formulation excluded the unicode spaces by
# listing them) degrades the whole class to a per-char CharProperty
# chain — measured 9.8s vs 0.6s for the grammar over the 40k-page bench
# corpus at local[32]. Non-ASCII text therefore routes to the exact
# tier — conservative, and it also sidesteps the str.isspace()/
# textnorm.BLANKS blank-span parity hazard (\x1c-\x1f + unicode
# spaces) by construction.
_TXT_CLASS = "[\\t\\n\\x0B\\f\\r\\x20-\\x25\\x27-\\x3B\\x3D-\\x7E]"
# Attribute values: no quote/angle (attr shape), no '&' (charrefs are
# decoded inside attribute values by html.parser), no sentinels, and
# (round 4, same BitClass reasoning) printable-ASCII only — non-ASCII
# attr bytes route the page to the exact tier.
_ATTR_CLASS = "[\\x20-\\x21\\x23-\\x25\\x27-\\x3B\\x3D\\x3F-\\x7E]"

# The exact tag forms html.parser and the regex tier agree on:
_A_TAG_RE = '<a href="' + _ATTR_CLASS + '++">'
_A_CAPTURE_RE = '<a href="(' + _ATTR_CLASS + '++)">'
_MEDIA_TAG_RE = '<(?:img|video|audio|source) src="(' + _ATTR_CLASS + '++)"/?+>'
# Any other lowercase tag with NO attributes (self-closing allowed).
# <script>/<style> are excluded — their text is suppressed by the parser;
# the lookahead rejects exactly the tag names, so <scripts> stays clean
# (html.parser also treats it as an ordinary tag).
_PLAIN_TAG_RE = "</?+(?!(?:script|style)[/>])[a-z][a-z0-9]*+/?+>"

# Full-document grammar. All quantifiers possessive: matching is a single
# deterministic linear scan (each position dispatches on '<' vs text, and
# the tag alternatives are mutually exclusive) — no backtracking blowup on
# adversarial input; a page that fits no alternative simply fails and
# routes to the exact tier.
CLEAN_PAGE_RE = (
    "\\A(?:" + _TXT_CLASS + "++|" + _A_TAG_RE + "|" + _MEDIA_TAG_RE
    + "|" + _PLAIN_TAG_RE + ")*+\\z"
)

# One regexp_replace turns the document into sentinel-delimited segments in
# document order: media tags become their own segment marked with _MED
# (java.util.regex substitutes "" for the non-participating capture group
# when the generic-tag alternative matches, leaving a bare _MED artifact
# that span assembly drops), every other tag becomes a plain separator.
_SEGMENT_RE = _MEDIA_TAG_RE + "|<[^>]*+>"
_SEGMENT_SUB = _SEG + _MED + "$1" + _SEG


def _native_parent_cols(url):
    """Per-page columns for native media-src resolution: the scheme://host
    prefix, and the proof that purl.parse_url(page_url) succeeds with that
    exact scheme/host so ``prefix + trimmed_src`` equals
    purl.normalize(page_url, src).to_string() for rooted srcs (the same
    argument canonize_links_prepared makes for rooted hrefs, tightened to
    a fully printable-ASCII parent: purl rejects hosts containing any of
    _BAD_HOST_CHARS, all of which the printable-minus-specials class
    excludes)."""
    from pyspark.sql import functions as F

    from .canon import SQL_ABS_CLEAN

    pprefix = F.regexp_extract(url, r"^([a-z][a-z0-9+.\-]*://[^/?#]*)", 1)
    parent_ok = url.rlike(SQL_ABS_CLEAN) & ~pprefix.contains("%")
    return pprefix, parent_ok


def clean_page_pred(url, html):
    """Routing predicate: True ⇒ the native tier is bit-exact for this
    (page_url, html) pair. Grammar full-match + every media src natively
    resolvable (abs-clean verbatim, or rooted-clean against a clean
    parent — the masks imply that purl.normalize(page_url, src)
    .to_string() is the src itself, or the page prefix + trimmed src)."""
    from pyspark.sql import functions as F

    from .canon import SQL_ABS_CLEAN, SQL_ROOTED_CLEAN, empty_tail

    _, parent_ok = _native_parent_cols(url)

    def _src_ok(s):
        t = F.trim(s)
        abs_ok = (
            s.rlike(SQL_ABS_CLEAN)
            & ~s.contains("%")
            & ~empty_tail(F.substring_index(s, "#", 1), s)
        )
        rooted_ok = (
            parent_ok
            & t.rlike(SQL_ROOTED_CLEAN)
            & ~t.startswith("//")
            & ~t.contains("%")
            & ~empty_tail(F.substring_index(t, "#", 1), t)
        )
        return abs_ok | rooted_ok

    return html.rlike(CLEAN_PAGE_RE) & F.forall(
        F.regexp_extract_all(html, F.lit(_MEDIA_TAG_RE), 1), _src_ok
    )


def native_parse_projection(fetched):
    """The native tier: PARSED rows computed entirely JVM-side. Callers
    must route rows here only when ``NOT fetch-ok`` (null spans/links —
    content-independent) or ``clean_page_pred`` holds."""
    from pyspark.sql import functions as F

    from .textnorm import normalize_text_col

    url = F.col("url")
    html = F.col("content_html")
    ok = (
        F.col("guard_ok")
        & (F.col("status") == 200)
        & html.isNotNull()
    )
    pprefix, _ = _native_parent_cols(url)

    # links: every href in pre-order emission order (P2)
    links = F.transform(
        F.regexp_extract_all(html, F.lit(_A_CAPTURE_RE), 1),
        lambda h, i: F.struct(
            i.cast("int").alias("link_index"), h.alias("href")
        ),
    )

    # spans (P4): tag-boundary segmentation, then T1-normalize the WHOLE
    # segmented string in one pass (blank runs never cross the \x00
    # sentinel, and media payloads that survive routing are printable
    # ASCII without inner blanks, so normalization is identity on them
    # up to the leading/trailing spaces trim() strips anyway).
    segged = normalize_text_col(
        F.regexp_replace(html, _SEGMENT_RE, _SEGMENT_SUB)
    )
    segs = F.split(segged, _SEG)
    kept = F.filter(
        segs,
        lambda s: F.when(s.startswith(_MED), F.length(s) > 1).otherwise(
            F.trim(F.translate(s, "\n", " ")) != ""
        ),
    )
    spans = F.transform(
        kept,
        lambda s, i: F.when(
            s.startswith(_MED),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                _resolve_media(
                    F.substring(s, 2, F.length(s)), pprefix
                ).alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).otherwise(
            F.struct(
                F.lit("text").alias("kind"),
                s.alias("text"),
                F.lit("").alias("media_ref"),
                i.cast("int").alias("offset"),
            )
        ),
    )

    return fetched.select(
        *_PASSTHROUGH,
        F.col("status").cast("int").alias("status"),
        ok.alias("fetched_ok"),
        F.when(ok, spans).alias("spans"),
        F.when(ok, links).alias("links"),
    )


def _resolve_media(src, pprefix):
    """U1 for a routing-approved media src: rooted srcs (the only form
    that can carry leading spaces) resolve against the page prefix; abs
    srcs pass through verbatim (clean_page_pred admits only those that
    purl.normalize leaves unchanged)."""
    from pyspark.sql import functions as F

    t = F.trim(src)
    return F.when(t.startswith("/"), F.concat(pprefix, t)).otherwise(src)


def _make_parse_batch(process_fn=None, remove_fn=None):
    """Build the mapInArrow body, closing over the optional user hooks
    (ProcessFunc / RemoveFunc seams — cloudpickled to executors)."""

    def _parse_batch(batches) -> Iterator:
        import gc as _gc

        # The parse loop allocates heavily (DOM events, span tuples); in
        # long-lived pyspark workers the cyclic GC fires constantly over the
        # worker's whole heap (Arrow buffers, batch state) and was measured
        # inflating in-batch time several-fold at high worker counts. The
        # structures built here are acyclic; disable the cycle collector for
        # the duration of the batch.
        _gc_was_enabled = _gc.isenabled()
        _gc.disable()
        try:
            yield from _parse_batches_inner(batches, process_fn, remove_fn)
        finally:
            if _gc_was_enabled:
                _gc.enable()

    return _parse_batch


def _parse_batches_inner(batches, process_fn, remove_fn):
    import pyarrow as pa

    for batch in batches:
        cols = {n: batch.column(n) for n in batch.schema.names}
        # to_pylist once per column: C++ -> list of str, far cheaper than
        # per-element scalar access
        urls = cols["url"].to_pylist()
        htmls = cols["content_html"].to_pylist()
        statuses = cols["status"].to_pylist()
        guards = cols["guard_ok"].to_pylist()
        n = len(urls)
        fetched_ok = []
        is_null = []  # row's spans/links are null (failed fetch/parse)
        s_kind, s_text, s_ref, s_off = [], [], [], []
        l_idx, l_href = [], []
        s_ends, l_ends = [0] * (n + 1), [0] * (n + 1)  # list offsets (n+1)
        s_pos = 0
        l_pos = 0
        for i in range(n):
            ok = bool(guards[i]) and statuses[i] == 200 and htmls[i] is not None
            if ok:
                u = parse_url(urls[i])
                ex = extract(htmls[i])
                ok = ex.ok
                if ok:
                    spans = spans_from_extractor(u, ex, remove_fn=remove_fn)
                    if process_fn is not None:
                        # ProcessFunc sees/returns the span-dict shape
                        # (reference ProcessFunc seam, crawler.go:144-150)
                        span_dicts = process_fn(
                            urls[i], [s._asdict() for s in spans]
                        )
                        for d in span_dicts:
                            s_kind.append(d["kind"])
                            s_text.append(d["text"])
                            s_ref.append(d["media_ref"])
                            s_off.append(d["offset"])
                        s_pos += len(span_dicts)
                    else:
                        for s in spans:
                            s_kind.append(s.kind)
                            s_text.append(s.text)
                            s_ref.append(s.media_ref)
                            s_off.append(s.offset)
                        s_pos += len(spans)
                    hrefs = ex.hrefs
                    l_href.extend(hrefs)
                    l_idx.extend(range(len(hrefs)))
                    l_pos += len(hrefs)
            fetched_ok.append(ok)
            is_null.append(not ok)
            s_ends[i + 1] = s_pos
            l_ends[i + 1] = l_pos
        # one C++ builder call per flat column; masked offsets mark the
        # null (not empty) lists of failed rows
        mask = pa.array(is_null, pa.bool_())
        spans_struct = pa.StructArray.from_arrays(
            [
                pa.array(s_kind, pa.string()),
                pa.array(s_text, pa.string()),
                pa.array(s_ref, pa.string()),
                pa.array(s_off, pa.int32()),
            ],
            names=["kind", "text", "media_ref", "offset"],
        )
        spans_arr = pa.ListArray.from_arrays(
            pa.array(s_ends, pa.int32()), spans_struct, mask=mask
        )
        links_struct = pa.StructArray.from_arrays(
            [pa.array(l_idx, pa.int32()), pa.array(l_href, pa.string())],
            names=["link_index", "href"],
        )
        links_arr = pa.ListArray.from_arrays(
            pa.array(l_ends, pa.int32()), links_struct, mask=mask
        )
        out = pa.RecordBatch.from_arrays(
            [cols[c] for c in _PASSTHROUGH]
            + [
                cols["status"].cast(pa.int32()),
                pa.array(fetched_ok, pa.bool_()),
                spans_arr,
                links_arr,
            ],
            names=_PASSTHROUGH + ["status", "fetched_ok", "spans", "links"],
        )
        yield out


def parse_stage(fetched, process_fn=None, remove_fn=None, native=False,
                exact=True):
    """fetched: DataFrame with frontier cols + (status, content_html,
    guard_ok) → PARSED rows (spans + links nested arrays). Optional user
    hooks: ``process_fn(url, spans)->spans`` span post-hook (ProcessFunc),
    ``remove_fn(ch)->bool`` rune-removal pre-pass (RemoveFunc).

    ``native=True`` enables the two-tier split: rows that are not
    fetch-ok, plus fetch-ok rows whose page passes clean_page_pred, take
    the JVM-native projection; only dirty pages cross into Python. The
    hooks force the exact tier (they run inside the Python parse loop).
    Callers should materialize ``fetched`` (the engine checkpoints it)
    before a native-split call — the two tiers each scan it; pre-marking
    with ``mark_dirty`` before the checkpoint makes the routing grammar
    run ONCE per page (the two tier filters then read the stored
    boolean) instead of once per tier.
    ``exact=False`` (the caller counted no dirty row) leaves the exact
    tier's MapInArrow out of the native split, so no Python worker
    starts for empty batches; the hooks still force the exact tier."""
    from pyspark.sql import functions as F

    cols = _PASSTHROUGH + ["status", "content_html", "guard_ok"]
    if not native or process_fn is not None or remove_fn is not None:
        return fetched.select(*cols).mapInArrow(
            _make_parse_batch(process_fn, remove_fn), PARSED
        )

    if DIRTY_COL not in fetched.columns:
        fetched = mark_dirty(fetched)
    needs_py = F.col(DIRTY_COL)
    fetched = fetched.select(*cols, DIRTY_COL)
    fast = native_parse_projection(fetched.filter(~needs_py))
    if not exact:
        return fast
    slow = fetched.filter(needs_py).select(*cols).mapInArrow(
        _make_parse_batch(None, None), PARSED
    )
    return fast.unionByName(slow)


DIRTY_COL = "_parse_dirty"


def mark_dirty(fetched):
    """Materializable routing flag: True ⇔ the row is fetch-ok AND the
    page fails the clean grammar (must cross into the exact Arrow parse).
    Callers compute it once into a checkpointed round batch; the two
    tier filters in parse_stage are then cheap stored-column scans
    instead of two full regex passes per page."""
    from pyspark.sql import functions as F

    ok = (
        F.col("guard_ok")
        & (F.col("status") == 200)
        & F.col("content_html").isNotNull()
    )
    needs_py = ok & ~clean_page_pred(F.col("url"), F.col("content_html"))
    return fetched.withColumn(
        DIRTY_COL, F.coalesce(needs_py, F.lit(False))
    )
