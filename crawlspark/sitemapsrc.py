"""Sitemap XML source (SRC2 + SF1-SF3 — reference sitemap/sitemap.go).

Input: a DataFrame of raw sitemap XML documents (sitemap_url, xml) — the
in-sandbox stand-in for HTTP GET of /sitemap.xml. Parse is a mapInPandas
stage (stdlib ElementTree over the Arrow batch); the scalar decodes follow
the reference exactly:

- SF1 changefreq (sitemap.go:18-46): always→1s, hourly→3600, daily→86400,
  weekly→604800, monthly→2592000 (30d), yearly→31536000 (365d),
  never→int64 max; empty→0; anything else is an error ⇒ whole sitemap
  parse fails (strict, like xml.Unmarshal).
- SF2 lastmod (sitemap.go:52-72): layouts tried in order — yyyy-MM-dd,
  yyyy-MM-dd'T'HH:mm(zone), RFC3339, RFC3339Nano, yyyy-MM, yyyy.
- SF3 url element (sitemap.go:74-94): loc parse failure fails the parse;
  missing priority → 0.0.

Entries feed the crawl as round-0 pushes *before* explicit seeds
(crawler.go:313-331), with ``priority`` driving the scheduler's priority
mode. A native-Catalyst lastmod parser (coalesce of to_timestamp) is
provided for SQL-pipeline use where the XML is already shredded.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from typing import Iterator, Optional

import pandas as pd

from .schemas import SITEMAP_ENTRY

_FREQ_SECS = {
    "": 0,
    "always": 1,
    "hourly": 3600,
    "daily": 86400,
    "weekly": 7 * 86400,
    "monthly": 30 * 86400,
    "yearly": 365 * 86400,
    "never": (1 << 63) - 1,
}

_LASTMOD_FORMATS = [
    "%Y-%m-%d",
    "%Y-%m-%dT%H:%M%z",
    "%Y-%m-%dT%H:%M:%S%z",  # RFC3339
    "%Y-%m-%dT%H:%M:%S.%f%z",  # RFC3339Nano
    "%Y-%m",
    "%Y",
]


def parse_lastmod(s: str) -> Optional[datetime]:
    s = s.replace("Z", "+00:00") if s.endswith("Z") else s
    for fmt in _LASTMOD_FORMATS:
        try:
            dt = datetime.strptime(s, fmt)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return dt
        except ValueError:
            continue
    return None


def parse_sitemap_xml(xml: str) -> list[dict]:
    """One sitemap document → entry dicts (raises on invalid changefreq or
    malformed XML — the reference's strict Unmarshal semantics)."""
    root = ET.fromstring(xml)
    out = []
    order = 0
    for el in root:
        tag = el.tag.split("}")[-1]
        if tag != "url":
            continue
        loc = prio = freq = lastmod = None
        for child in el:
            ctag = child.tag.split("}")[-1]
            text = (child.text or "").strip()
            if ctag == "loc":
                loc = text
            elif ctag == "priority":
                prio = float(text)
            elif ctag == "changefreq":
                if text not in _FREQ_SECS:
                    raise ValueError(f"invalid frequence: {text}")
                freq = _FREQ_SECS[text]
            elif ctag == "lastmod":
                lastmod = parse_lastmod(text)
                if lastmod is None:
                    raise ValueError(f"invalid lastmod: {text}")
        if loc is None:
            continue
        out.append(
            {
                "loc": loc,
                "priority": prio if prio is not None else 0.0,
                "changefreq_secs": freq,
                "lastmod": lastmod,
                "entry_order": order,
            }
        )
        order += 1
    return out


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for xml in pdf["xml"]:
            for e in parse_sitemap_xml(xml):
                rows.append(e)
        yield pd.DataFrame(
            rows,
            columns=["loc", "priority", "changefreq_secs", "lastmod", "entry_order"],
        )


def sitemap_entries(xml_df):
    """DataFrame(sitemap_url, xml) → SITEMAP_ENTRY rows."""
    return xml_df.select("xml").mapInPandas(_parse_batches, SITEMAP_ENTRY)

