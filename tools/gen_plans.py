import sys; sys.path.insert(0, "/root/repo")
import io, contextlib
from crawlspark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark(cores=8, shuffle_partitions=8, driver_mem="8g", app="plans")

from crawlspark.schemas import PAGES
from crawlspark.synth import richsite
from crawlspark import canon
from crawlspark.schedule import schedule_round, spread_for_fetch

def cap(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()

out = []
out.append("""# PLANS — physical-plan audits (`explain("formatted")`)

Captured from a live session (local[8], AQE on). Commentary notes the
property each plan must exhibit for the 100 TB contract. Regenerate with
`python tools/gen_plans.py` after plan-shape changes.
""")

# 1. parquet scan pushdown
pages, _ = richsite()
spark.createDataFrame(pages, PAGES).write.mode("overwrite").parquet("/tmp/plans_pages")
scan = (spark.read.parquet("/tmp/plans_pages")
        .filter(F.col("host") == "rich.example").select("url_key", "status"))
out.append("## 1. Scan pushdown (filters + pruned columns reach parquet)\n\n"
           "Required: `PushedFilters` carries the host predicate; `ReadSchema`\n"
           "contains only the projected columns (never content_html for a\n"
           "metadata query).\n\n```\n" + cap(scan) + "```\n")

# 2. politeness two-phase top-k
frontier = spark.range(100000).select(
    F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
    F.col("id").alias("disc_order"), F.lit(0.0).alias("priority"),
    F.col("id").cast("string").alias("url_key"),
    F.col("id").cast("string").alias("seen_key"),
    F.col("id").cast("string").alias("url"))
sched, carry = schedule_round(frontier, host_budget=10)
out.append("## 2. Politeness two-phase per-host top-k (Q5)\n\n"
           "Required: the FIRST window partitions by (host, _salt) — uniform\n"
           "even with a hot host; the bare-host window only sees the tiny\n"
           "per-bucket survivors (<= salt x budget rows per host).\n\n```\n"
           + cap(sched) + "```\n")

# 3. fetch-stage spread
spread = spread_for_fetch(sched, 8, salt=3)
out.append("## 3. Fetch-stage uniform spread (Q4)\n\n"
           "Required: exchange hashes on xxhash64(url_key, salt) — never on\n"
           "host — so a hot host cannot pin the CPU-heavy parse stage.\n\n```\n"
           + cap(spread.select("url", "host")) + "```\n")

# 4. anti-join dedup
seen = spark.range(1000).select(F.col("id").cast("string").alias("seen_key"))
cand = spark.range(5000).select(F.col("id").cast("string").alias("seen_key"),
                                F.col("id").alias("parent_disc"))
anti = cand.join(seen, "seen_key", "left_anti")
out.append("## 4. Seen-set anti-join (Q1 cross-round dedup)\n\n"
           "Required: plain shuffled/broadcast anti-join on the seen_key string\n"
           "column; Spark's runtime Bloom (enabled in session conf) injects\n"
           "a bloom probe on large joins, and on merge-probe rounds crawlspark.bloom\n"
           "pre-drops definite-new candidates before this join.\n\n```\n"
           + cap(anti) + "```\n")

# 5. whole-stage codegen for T1 + accept filter
from crawlspark.textnorm import normalize_text_col
df = spark.range(1000).select(F.concat(F.lit("http://h/x"), F.col("id").cast("string")).alias("url"),
                              F.lit("a  b\r\n").alias("text"))
nat = df.filter(canon.accept_filter_col("url", "h", ["reject"], [])) \
        .select(normalize_text_col("text").alias("t"))
out.append("## 5. Native expressions stay in WholeStageCodegen (F1 + T1)\n\n"
           "Required: one codegen span covering filter+project — no Python in\n"
           "the hot path for natively-expressible operators.\n\n```\n"
           + cap(nat) + "```\n")

# 6. two-tier parse routing (P2/P4, round 4)
from crawlspark.parse import mark_dirty, parse_stage
fetched = (spark.read.parquet("/tmp/plans_pages")
           .select("url", "host", "url_key",
                   F.lit(0).alias("round"),
                   F.monotonically_increasing_id().alias("disc_order"),
                   F.lit(0.0).alias("priority"),
                   "status", "content_html", F.lit(True).alias("guard_ok")))
parsed = parse_stage(mark_dirty(fetched), native=True)
out.append("## 6. Two-tier parse routing (P2/P4, round 4)\n\n"
           "Required: the clean-page branch is pure JVM Project/Filter (no\n"
           "Python evaluator anywhere in that subtree — links via\n"
           "regexp_extract_all, spans via regexp_replace+split+transform);\n"
           "exactly ONE MapInArrow node exists, fed only by the dirty-page\n"
           "filter; the routing flag `_parse_dirty` is read from the cached\n"
           "round batch, not recomputed per tier.\n\n```\n"
           + cap(parsed) + "```\n")

open("/root/repo/docs/PLANS.md", "w").write("\n".join(out))
print("written docs/PLANS.md")
