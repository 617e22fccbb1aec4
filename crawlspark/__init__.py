"""crawlspark — a from-scratch PySpark-native URL-frontier / fetch-scheduler
engine with the capabilities of the reference crawler (mars9/crawler),
re-expressed Spark-first: iterative DataFrame jobs, vectorized pandas/Arrow
UDFs for per-row logic, window-function dedup/scheduling, anti-join seen-set
with a partitioned Bloom prefilter, and checkpointed, resumable crawl rounds
writing interleaved text+media span documents.

Module map (SURVEY.md §7):
  purl       — exact Go-URL semantics (U1/U2/U3 pure-Python contract)
  textnorm   — whitespace normalizer T1 (python + Catalyst implementations)
  canon      — vectorized canonicalization + accept filter (U1-U3, F1)
  htmlparse  — link + span extraction (P1/P2/P4 pure parser)
  parse      — Spark mapInPandas stage wrapping htmlparse (P2-P4)
  fetch      — batch fetch round via resolver join (SRC3, F3-F6)
  sitemapsrc — sitemap XML source (SRC2, SF1-SF3)
  robots     — robots/politeness broadcast rules (F5)
  frontier   — dedup / budget / seen-set (Q1), Bloom prefilter
  schedule   — politeness window top-k + salted repartition (Q4/Q5)
  engine     — round loop, checkpoint/resume, metrics/lineage (Q2/Q7)
  storage    — round-versioned parquet table store
  synth      — deterministic synthetic web graphs (fixtures)
  oracle     — single-threaded reference simulator (golden)
  analysis   — training-data pipeline ops (dedup/similarity/text/multimodal)
"""

__version__ = "0.1.0"
