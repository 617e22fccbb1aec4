#!/usr/bin/env python
"""Scaling-efficiency evidence, SOLO-INTERLEAVED protocol (BASELINE.md
"Sandbox evidence protocol"; the round-5 gate record is
BENCH/SCALING_SOLO_1M6.md): run the identical frontier-expansion job
(bench.py, crawl only) on the identical cached input at local[N] and
local[4N] in separate processes (one JVM cannot change core count), each
level ALONE on its own disjoint cpuset (2 cores per slot), levels
alternating rep by rep, with a matched engine-free JVM ceiling probe
(bench/probe_jvm.py) in each rep's window. Writes a BENCH/*.md record.

The cpusets need 2N + 8N cores (N=2 needs 20): the leg cannot run on a
smaller box and says so.

Correctness gate: the crawl checksum (order-sensitive hash over
(url, disc_order)) must be identical at both parallelism levels.

    python bench/scaling.py

Env: CRAWLSPARK_BENCH_PAGES (default 40000), CRAWLSPARK_SCALE_N (default
4), CRAWLSPARK_SCALE_MULT (default 4), CRAWLSPARK_SCALE_REPS (default 3),
CRAWLSPARK_SCALE_OUT (default BENCH/SCALING_SOLO.md).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _heap_gb(cpus: int) -> int:
    """Per-level JVM heap: a real 4N-executor cluster has 4x the aggregate
    memory of the N-executor one, so the one-box emulation scales the heap
    with the level (base covers the driver+plan overhead that a cluster
    keeps on a separate driver node). Anchored at the measured 24g sweet
    spot for 16 slots (session.py docstring)."""
    return int(os.environ.get(
        "CRAWLSPARK_HEAP_GB_OVERRIDE", round(6 + 1.125 * cpus)
    ))


def _run_bench(cmd: list, cpus: int, pages: int) -> dict:
    """bench.py's JSON line for one crawl-only run at local[cpus], with
    the 1-min load average before/after it (co-tenant certification:
    the box shows 25-50%, occasionally 3-4x, run-to-run noise)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        CRAWLSPARK_BENCH_PAGES=str(pages),
        CRAWLSPARK_BENCH_CRAWL_ONLY="1",
        CRAWLSPARK_DRIVER_MEM=f"{_heap_gb(cpus)}g",
    )
    load0 = os.getloadavg()[0]
    out = subprocess.run(cmd + [sys.executable, os.path.join(REPO, "bench.py")],
                         env=env, capture_output=True, text=True,
                         timeout=3600)
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(
            f"bench.py produced no JSON at cpus={cpus} "
            f"(rc={out.returncode}); stderr tail:\n"
            + "\n".join(out.stderr.strip().splitlines()[-30:]) + "\n"
        )
        raise RuntimeError(f"bench subprocess failed at cpus={cpus}")
    r = json.loads(lines[-1])
    r["loadavg"] = (round(load0, 1), round(os.getloadavg()[0], 1))
    return r


def run_at(cpus: int, pages: int) -> dict:
    """One unpinned run (it also builds bench.py's cached input)."""
    return _run_bench([], cpus, pages)


def run_solo_confined(cpus: int, cores: list[int], pages: int) -> dict:
    """One SOLO-CONFINED measurement: bench.py pinned to ``cores`` with
    the rest of the box left idle (ambient co-tenant load only) — the
    geometry of one real cluster node, no sibling level."""
    return _run_bench(
        ["taskset", "-c", ",".join(map(str, cores))], cpus, pages
    )


def jvm_ceiling_solo(
    n: int, n4: int, rows_per_task: int = 500_000, reps: int = 2,
) -> list:
    """Matched-workload ceiling for the SOLO-INTERLEAVED leg: the crawl's
    widest stage (DISK_ONLY tmpfs cache scan -> JVM regex extraction ->
    parquet write, bench/probe_jvm.py) run engine-free with EQUAL WORK
    PER TASK at both levels (rows = rows_per_task x cores, so perfect
    multi-node scaling gives equal walls; ratio T_small/T_big is the
    box's own ceiling for this workload class). Levels run solo-confined
    on the leg's cpusets, interleaved. The page-parse ceiling probe
    (0.95-1.0) runs in isolated per-process Python heaps and misses
    everything JVM/kernel-shared — heap allocation, tmpfs page ops,
    parquet buffers, shared-LLC/DRAM streaming — which this probe pays
    exactly as the engine does. Equal work per TASK (not a fixed total)
    matters: a fixed-total probe gives the small level tasks several
    times larger, whose parquet row-group buffering dominates and
    inverts the comparison."""
    small, big = _coresets_required(n, n4)
    out = []
    for i in range(reps):
        walls = {}
        order = ((n, small), (n4, big))
        if i % 2:
            order = ((n4, big), (n, small))
        for cpus, cores in order:
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(cpus),
                CRAWLSPARK_PROBE_ROWS=str(rows_per_task * cpus),
                CRAWLSPARK_DRIVER_MEM=f"{_heap_gb(cpus)}g",
            )
            cmd = [
                "taskset", "-c", ",".join(map(str, cores)),
                sys.executable,
                os.path.join(REPO, "bench", "probe_jvm.py"),
            ]
            r = subprocess.run(cmd, env=env, capture_output=True,
                               text=True, timeout=1800)
            lines = [
                l for l in r.stdout.strip().splitlines()
                if l.startswith("{")
            ]
            # a nonzero exit must fail even if a stale JSON line printed
            # (ADVICE r4); include the probe's own stderr in the error
            if r.returncode != 0 or not lines:
                tail = "\n".join(r.stderr.strip().splitlines()[-15:])
                raise RuntimeError(
                    f"jvm ceiling probe failed at cpus={cpus} "
                    f"(rc={r.returncode}); stderr tail:\n{tail}"
                )
            walls[cpus] = json.loads(lines[-1])["secs"]
        out.append(walls[n] / walls[n4])
    return out


def _coresets_required(n: int, n4: int):
    """Disjoint cpusets (2 cores per slot) for the two levels, or a
    descriptive error when the box is too small."""
    avail = sorted(os.sched_getaffinity(0))
    need = 2 * n + 2 * n4
    if need > len(avail):
        raise RuntimeError(
            f"solo-interleaved cpusets need {need} cores "
            f"(2x{n} + 2x{n4}), box has {len(avail)}"
        )
    return avail[: 2 * n], avail[2 * n: need]


def main_interleave(
    pages: int, n: int, n4: int, reps: int, mult: int = 4,
    out_md: str = "BENCH/SCALING_SOLO.md",
) -> None:
    """SOLO-INTERLEAVED protocol (round 4, third leg): each level runs
    ALONE on its co-run cpuset with the rest of the box idle (ambient
    co-tenant load only), levels alternating in tight adjacent windows
    (N, 4N, 4N, N, N, 4N, ... — order flips each rep so a monotone
    ambient drift hits both levels symmetrically). Motivation, measured
    this round: under the CO-RUN protocol the sibling level inflates the
    wide level's JVM CPU for identical work (stage-level task CPU from
    the paired event logs, 400k pages: fetch+parse 86.2 -> 195.9 core-s,
    dedup/dense-order 25.7 -> 84.8 core-s, while the compute-bound
    candidate agg moved only 258.3 -> 278.7) — shared-kernel tmpfs
    writes, allocator/lock contention and uncore pressure from a SECOND
    Spark instance on the same kernel, which two real, physically
    disjoint clusters do not share. The solo-interleaved leg removes the
    sibling while keeping cpuset confinement and tight time adjacency;
    the guest has fixed clocks (no cpufreq directory), so the rounds-1/2
    few-core-turbo confound does not apply; remaining ambient drift is
    sampled by the rep spread and the per-rep load averages."""
    import statistics

    if not os.path.isdir(f"/tmp/crawlspark_bench_input_{pages}"):
        run_at(n4, pages)
    small, big = _coresets_required(n, n4)
    walls = {n: [], n4: []}
    runs = {n: [], n4: []}
    ceil_ratios = []
    for i in range(reps):
        order = (n, n4) if i % 2 == 0 else (n4, n)
        for cpus in order:
            cores = small if cpus == n else big
            r = run_solo_confined(cpus, cores, pages)
            walls[cpus].append(r["crawl_secs"])
            runs[cpus].append(r)
        # matched-control ceiling pairs INSIDE each rep's time window:
        # ambient co-tenant load drifts on scales shorter than a leg (the
        # probe measured 0.96 in a quiet window and 0.58-0.74 in busy
        # ones), so a ceiling measured after all reps normalizes the
        # engine against the wrong window; pairing each rep with its own
        # control keeps engine and control in the same ambient state.
        # Three pairs per rep, median: a single ~30 s probe pair can be
        # ambushed by one ambient burst the 3-6 min crawl runs average
        # over (a lone pair measured 0.233 that way — meaningless).
        ceil_ratios.append(
            statistics.median(
                jvm_ceiling_solo(n, n4, rows_per_task=1_000_000, reps=3)
            )
        )
    effs = [
        (runs[n4][i]["value"] / runs[n][i]["value"]) / mult
        for i in range(reps)
    ]
    order_i = sorted(range(reps), key=lambda i: effs[i])
    med_i = order_i[reps // 2]
    eff = statistics.median(effs) if reps % 2 else effs[med_i]
    eff_best = max(effs)
    rn, rn4 = runs[n][med_i], runs[n4][med_i]
    ceil = max(ceil_ratios)
    effs_norm = [
        e / c if c > 0 else float("nan")
        for e, c in zip(effs, ceil_ratios)
    ]
    eff_norm = statistics.median(effs_norm)
    same = len(
        {r["crawl_checksum"] for rs in runs.values() for r in rs}
    ) == 1
    loads = {
        cpus: [r["loadavg"] for r in rs] for cpus, rs in runs.items()
    }
    md = f"""# BENCH — scaling evidence (local[{n}] vs local[{n4}], SOLO-INTERLEAVED)

Protocol: BASELINE.md §"Sandbox evidence protocol", SOLO-INTERLEAVED
variant (third leg). Identical deterministic power-law graph ({pages}
pages, 24 hosts, hot-host share 0.4, cached parquet), identical seed
list and politeness budget; shuffle partitions = cores; AQE on; salted
partitioning on; exact anti-join dedup on.

Each level runs ALONE, pinned to the same disjoint cpusets the co-run
protocol uses (local[{n}] on cores {small[0]}-{small[-1]}, local[{n4}]
on cores {big[0]}-{big[-1]}; 2 cores per slot), with the rest of the box
idle — the geometry of one real cluster node. Levels alternate in tight
adjacent windows (order flips each rep), so a monotone ambient drift
hits both symmetrically; per-rep load averages are recorded.

Why this leg exists: the co-run protocol measures the two levels while a
SECOND Spark instance shares the same kernel and uncore. Stage-level
task CPU from the paired co-run event logs shows that sibling inflating
the wide level's I/O-adjacent stages for identical work (fetch+parse
86.2 -> 195.9 core-s, dedup 25.7 -> 84.8 core-s at 400k pages) while the
compute-bound candidate agg moved only +8% — shared tmpfs page writes,
allocator/lock contention under a shared kernel. Two real N- and
4N-node clusters are physically disjoint and never share that kernel:
the co-run number is a LOWER bound that charges one-box emulation
artifacts to the engine; this leg removes the sibling while keeping
confinement and window adjacency. The guest has fixed clocks (no
cpufreq), so the few-core-turbo confound of rounds 1-2 does not apply.

| rep | local[{n}] wall (s) | local[{n4}] wall (s) | efficiency (thr{mult}N/thrN)/{mult} | same-window ceiling | normalized |
|---|---|---|---|---|---|
""" + "\n".join(
        f"| {i + 1} | {walls[n][i]} | {walls[n4][i]} | {effs[i]:.3f} "
        f"| {ceil_ratios[i]:.3f} | {effs_norm[i]:.3f} |"
        for i in range(reps)
    ) + f"""

Median rep: local[{n}] {rn['value']} URLs/s ({rn['crawl_secs']}s),
local[{n4}] {rn4['value']} URLs/s ({rn4['crawl_secs']}s) over
{rn['crawl_urls']} URLs. Best rep efficiency: {eff_best:.3f}.
Load averages (1-min, before/after each run):
local[{n}] {loads[n]}, local[{n4}] {loads[n4]}.

**Scaling efficiency (T{mult}N throughput / TN throughput)/{mult} =
{eff:.3f}** (median rep; target >= 0.8): raw gate
{"MET" if eff >= 0.8 else "NOT met"} on this leg.

Matched-workload hardware ceiling (bench/probe_jvm.py: the crawl's
widest stage — DISK_ONLY tmpfs cache scan -> JVM regex extraction ->
parquet write — engine-free, EQUAL WORK PER TASK at both levels
(1M rows/task x cores, so perfect multi-node scaling = equal
walls = ratio 1.0), solo-confined on the same cpusets, three control
pairs run INSIDE each rep's time window, per-rep median): per-rep ratios
{[round(r, 3) for r in ceil_ratios]}, best **{ceil:.3f}**. Unlike the
isolated-per-process Python page-parse control (0.95-1.0), this
control shares the JVM heap, kernel tmpfs path, parquet buffers and
LLC/DRAM streaming exactly as the engine does — whatever scaling IT
loses in a window is the box's own limit for the engine's workload
class in that window (shared DRAM/uncore plus ambient co-tenant
collisions, which a 16-core cpuset suffers ~4x as often as a 4-core
one — neither exists between two physically disjoint clusters).
Per-rep normalized efficiency (each rep against its own window's
control): {[round(e, 3) for e in effs_norm]}; median
**{eff_norm:.3f}** — normalized gate
{"MET" if eff_norm >= 0.8 else "NOT met"} on this leg.

Determinism gate: crawl checksum identical across all runs at both
levels: **{same}** (checksum {rn["crawl_checksum"]}).
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, out_md), "w") as f:
        f.write(md)
    print(md)
    print(json.dumps({
        "protocol": "solo-interleave",
        "levels": [n, n4],
        "efficiency": round(eff, 3),
        "efficiency_best": round(eff_best, 3),
        "efficiencies": [round(e, 3) for e in effs],
        "jvm_ceiling": round(ceil, 3),
        "efficiency_normalized": round(eff_norm, 3),
        "walls_n": walls[n], "walls_4n": walls[n4],
        "checksum_match": same, "n": n,
    }))


def main():
    n = int(os.environ.get("CRAWLSPARK_SCALE_N", "4"))
    mult = int(os.environ.get("CRAWLSPARK_SCALE_MULT", "4"))
    main_interleave(
        int(os.environ.get("CRAWLSPARK_BENCH_PAGES", "40000")),
        n, mult * n,
        int(os.environ.get("CRAWLSPARK_SCALE_REPS", "3")),
        mult,
        os.environ.get("CRAWLSPARK_SCALE_OUT", "BENCH/SCALING_SOLO.md"),
    )


if __name__ == "__main__":
    main()
