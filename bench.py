"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "revenue_per_nation",
    "summary_counts",
    "dim_join_broadcast",
    "window_row_number",
    "topk_per_group",
    "versioned_ingest",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_substrings_winnow",
    "dedup_urls",
    "quality_filter_gopher",
    "classifier_quality_score",
    "lm_fluency_score",
    "approx_distinct_incremental",
    "ann_cosine_topk",
    "text_quality",
    "sessionize_events",
    "asof_join_events",
    "range_join_events",
    # round-2 continuation additions (headline grew 20 → 24; totals are
    # not comparable across rounds — compare per-query or the r1 subset)
    "graph_pagerank",
    "fuzzy_name_match",
    "weighted_sample",
    "event_pattern_match",
    # round-3 additions (headline 24 → 27; same caveat)
    "bm25_topk",
    "frequent_pairs",
    "ngram_novelty",
    # round-4 additions (headline 27 → 30; same caveat)
    "unigram_tokenize",
    "soft_dedup_weights",
    "hard_negatives",
    # round-4 verdict additions: track the funnel's 29→8.3s fix and
    # k-core's peeling cost round-over-round (headline 30 → 33 with
    # pricing_summary_double; totals non-comparable, compare per-query)
    "refinedweb_pipeline",
    "graph_kcore",
    "pricing_summary_double",
    # round-7 additions (headline 33 → 36; totals non-comparable,
    # compare per-query): the new tokenizer, IVM shape, and the
    # recommender acceptance metric
    "wordpiece_encode",
    "ivm_topk_view",
    "itemcf_hitrate",
    # round-9 additions (headline 36 → 39; totals non-comparable,
    # compare per-query): the FIFO sweep's window stack, the two-level
    # distributed prefix max, and the mutual-matching rounds
    "fifo_allocation",
    "watermark_lateness_audit",
    "graph_mutual_matching",
    # round-10 additions (headline 39 → 43; totals non-comparable —
    # use comparable_subsets in the JSON): the second exactness-tax
    # point (join-heavy), the capped delta-peeling k-truss, the
    # integer Brandes sample, and the compaction planner's window lane
    "revenue_per_nation_double",
    "graph_ktruss",
    "graph_stress_centrality",
    "compaction_bins",
    # round-11 addition (headline 43 → 44; totals non-comparable —
    # use comparable_subsets): third exactness-tax point
    # (window-heavy; exact lane is LONG here since quantities are
    # integral, so this measures exact-integer vs native-double
    # window arithmetic)
    "fifo_allocation_double",
    # round-12 additions (headline 44 → 47; totals non-comparable —
    # use comparable_subsets): the brand-level co-order pair join +
    # MM fold, the dictionary-rank inference lane's heaviest member,
    # and the real-TIFF decode path (mapInPandas lane)
    "bradley_terry_brands",
    "kruskal_wallis",
    "tiff_pixel_stats",
    # round-13 additions (headline 47 → 50; totals non-comparable —
    # use comparable_subsets): the cell-blocked geo radius join, the
    # stateful-codec decode seam, and the dictionary-exact KS drift
    # test
    "geo_radius_join",
    "adpcm_audio_stats",
    "ks_two_sample_drift",
    # round-8 additions (headline 50 → 58; totals non-comparable —
    # use comparable_subsets, incl. the new frozen r7 subset pinned to
    # BENCH_r07's 50 names): the registry tail's heavy hitters whose
    # round-7 9-45x wins existed only as builder-side A/B numbers
    # (r07 VERDICT item 2 — bring them under driver measurement)
    "dedup_containment",
    "dedup_ngram_jaccard",
    "graph_link_prediction",
    "graph_neighborhood_hll",
    "graph_eccentricity_sample",
    "graph_lpa_modularity",
    "dedup_embedding_cosine",
    "graph_shortest_paths",
]


def _pricing_summary_double(spark, sf_dir):
    """Bench-only A/B twin of pricing_summary: native double sums
    instead of the decimal-exact policy. NOT registered as a query —
    double summation is reduction-order-dependent, so it can't
    hash-match a cross-engine oracle; it exists to keep the measured
    exactness tax (~3.4x at sf0.1, r4 A/B) visible per round."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(charge).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _revenue_per_nation_double(spark, sf_dir):
    """Bench-only A/B twin of revenue_per_nation: native double sums
    through the 4-table join instead of the decimal-exact policy.
    Second point on the exactness-tax curve (pricing_summary_double is
    the first) — join-heavy vs scan-heavy decimal cost."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderstatus") == "F"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).alias("revenue"))
    )


def _fifo_allocation_double(spark, sf_dir):
    """Bench-only A/B twin of fifo_allocation: native double quantities
    through the whole window stack instead of the exact long lane.
    Third point on the exactness-tax curve — window-dominated, beside
    scan-heavy (pricing_summary_double) and join-heavy
    (revenue_per_nation_double)."""
    from datalake_etlscripts_spark.plans.lakeops import fifo_allocation_frame

    return fifo_allocation_frame(spark, sf_dir, qty_type="double")


BENCH_ONLY = {
    "pricing_summary_double": _pricing_summary_double,
    "revenue_per_nation_double": _revenue_per_nation_double,
    "fifo_allocation_double": _fifo_allocation_double,
}

# Frozen comparable subsets + their recorded driver totals, so the
# round-over-round ratio is computed HERE (same machine, same run)
# instead of eyeballed across BENCH_r*.json files whose headline sets
# grew each round. r1 = the original 14-query set (BENCH_r01.json,
# 21.34s); r4 = the 39-query round-4 set (BENCH_r04.json, 68.391s,
# recorded under driver-observed CPU steal — clean-run reference was
# ~49-58s, so treat the r4 ratio as an upper bound).
COMPARABLE = {
    "r1": {
        "ref_total": 21.34,
        "names": [
            "ann_cosine_topk", "asof_join_events", "dedup_exact",
            "dedup_minhash_lsh", "dim_join_broadcast", "pricing_summary",
            "range_join_events", "revenue_per_nation", "sessionize_events",
            "summary_counts", "text_quality", "topk_per_group",
            "versioned_ingest", "window_row_number",
        ],
    },
    "r4": {
        "ref_total": 68.391,
        "names": [
            "pricing_summary", "revenue_per_nation", "summary_counts",
            "dim_join_broadcast", "window_row_number", "topk_per_group",
            "versioned_ingest", "dedup_exact", "dedup_minhash_lsh",
            "dedup_substrings_winnow", "dedup_urls", "quality_filter_gopher",
            "classifier_quality_score", "lm_fluency_score",
            "approx_distinct_incremental", "ann_cosine_topk", "text_quality",
            "sessionize_events", "asof_join_events", "range_join_events",
            "graph_pagerank", "fuzzy_name_match", "weighted_sample",
            "event_pattern_match", "bm25_topk", "frequent_pairs",
            "ngram_novelty", "unigram_tokenize", "soft_dedup_weights",
            "hard_negatives", "refinedweb_pipeline", "graph_kcore",
            "pricing_summary_double", "wordpiece_encode", "ivm_topk_view",
            "itemcf_hitrate", "fifo_allocation", "watermark_lateness_audit",
            "graph_mutual_matching",
        ],
    },
    # the full round-7 headline set (BENCH_r07.json, driver run at
    # sf0.1, best-of-3, total 100.408s) — frozen so the r08 additions
    # never pollute round-over-round totals
    "r7": {
        "ref_total": 100.408,
        "names": [
            "pricing_summary", "revenue_per_nation", "summary_counts",
            "dim_join_broadcast", "window_row_number", "topk_per_group",
            "versioned_ingest", "dedup_exact", "dedup_minhash_lsh",
            "dedup_substrings_winnow", "dedup_urls", "quality_filter_gopher",
            "classifier_quality_score", "lm_fluency_score",
            "approx_distinct_incremental", "ann_cosine_topk", "text_quality",
            "sessionize_events", "asof_join_events", "range_join_events",
            "graph_pagerank", "fuzzy_name_match", "weighted_sample",
            "event_pattern_match", "bm25_topk", "frequent_pairs",
            "ngram_novelty", "unigram_tokenize", "soft_dedup_weights",
            "hard_negatives", "refinedweb_pipeline", "graph_kcore",
            "pricing_summary_double", "wordpiece_encode", "ivm_topk_view",
            "itemcf_hitrate", "fifo_allocation", "watermark_lateness_audit",
            "graph_mutual_matching", "revenue_per_nation_double",
            "graph_ktruss", "graph_stress_centrality", "compaction_bins",
            "fifo_allocation_double", "bradley_terry_brands",
            "kruskal_wallis", "tiff_pixel_stats", "geo_radius_join",
            "adpcm_audio_stats", "ks_two_sample_drift",
        ],
    },
}


def _force(df) -> int:
    """Evaluate a query FULL-WIDTH and return its row count.

    ``count()`` lets Catalyst prune every projected expression — a
    projection-shaped query would measure only the scan (r1 judge
    finding). Summing a 64-bit hash over ALL output columns forces
    each one to be computed while collecting a single row.
    """
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.try_sum(F.xxhash64(*df.columns)).alias("h"),  # try_: long overflow is fine, value unused
    ).collect()[0]
    return row["n"]


def _cpu_times() -> tuple[int, int, int] | None:
    """(busy, steal, total) jiffies from /proc/stat's aggregate cpu
    line; None where /proc isn't available. Deltas between two samples
    give the share of CPU the hypervisor stole from the bench window —
    recorded so a steal band never again masquerades as a regression
    (two rounds of judge forensics demanded this)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if parts[0] != "cpu" or len(parts) < 9:
        return None
    vals = [int(x) for x in parts[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7]
    total = sum(vals[:8])
    return total - idle, steal, total


def _steal_pct(a, b) -> float | None:
    if a is None or b is None or b[2] <= a[2]:
        return None
    return round(100.0 * (b[1] - a[1]) / (b[2] - a[2]), 2)


_JVM_PID: int | None = None


def _find_jvm_pid() -> int | None:
    """PID of the Spark JVM: the deepest `java` process descending
    from this driver. The OperatingSystemMXBean/MBeanServer impl
    classes live in non-exported JDK modules py4j can't reflect into,
    so CPU comes from /proc/<pid>/stat instead."""
    me = os.getpid()
    try:
        procs = {}  # pid -> (ppid, comm)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parts = fh.read().split()
                procs[int(d)] = (int(parts[3]), parts[1])
            except OSError:
                continue
        for pid, (ppid, comm) in procs.items():
            if "java" not in comm:
                continue
            p = ppid
            while p > 1:
                if p == me:
                    return pid
                p = procs.get(p, (0, ""))[0]
    except OSError:
        pass
    return None


def _jvm_meters(spark):
    """(jvm_cpu_jiffy_sec, gc_ms) for the Spark JVM — in local mode
    the driver JVM IS the executor, so the delta across a query is
    that query's true JVM CPU + GC cost. This is the second source
    the round-6 verdict demanded: wall-clock spread with flat JVM CPU
    = scheduler noise; spread WITH matching CPU growth = a real plan
    regression. CPU is utime+stime from /proc/<jvm>/stat (user+sys
    jiffies, immune to steal); GC from the GarbageCollectorMXBeans."""
    global _JVM_PID
    cpu = None
    if _JVM_PID is None:
        _JVM_PID = _find_jvm_pid() or -1
    if _JVM_PID > 0:
        try:
            with open(f"/proc/{_JVM_PID}/stat") as fh:
                parts = fh.read().split()
            hz = os.sysconf("SC_CLK_TCK") or 100
            cpu = (int(parts[13]) + int(parts[14])) / hz
        except (OSError, IndexError, ValueError):
            cpu = None
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    except Exception:
        gc = None
    return cpu, gc


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as e
    from datalake_etlscripts_spark.session import get_spark

    qs = dict(e.queries()) | BENCH_ONLY
    names = [n for n in HEADLINE if n in qs] or list(qs)
    # opt-in subset filter for builder-side experiments (the higher-SF
    # scaling spot-check, r08 VERDICT item 4). UNSET in driver runs —
    # default behavior is byte-identical to the frozen contract.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        want = [s.strip() for s in only.split(",") if s.strip()]
        unknown = [n for n in want if n not in qs]
        if unknown or not want:
            sys.exit(f"bench.py: SPARK_GRAFT_BENCH_QUERIES={only!r}: unknown queries {unknown}")
        names = want

    spark = get_spark("bench")

    # warm the JVM + parquet footers once so timings measure the plans
    _force(qs[names[0]](spark, sf_dir))

    # three timed runs per query, keep the MIN: this host shows
    # hypervisor CPU-steal spikes (identical code has benched 4s..12s
    # in one session; the r3→r4 "regression" was a ±30% steal band on
    # best-of-2); the minimum is the plan's cost, the rest is noise.
    # Codegen caches persist between runs, so run 1 also absorbs the
    # per-plan compile cost — reported numbers are the steady-state a
    # cluster would see.
    # Each query also records: first_run (run 1 = the COLD lane a
    # 100 TB first pass would see — codegen compile + shuffle-file
    # creation; later runs are the warm steady state), spread_pct of
    # the timed runs, and the best run's JVM CPU seconds + GC ms from
    # the MXBeans. If best-of-3 spread exceeds 30% the query escalates
    # to 3 more runs (round-6 verdict: the itemcf 2.78s-vs-4.83s band
    # was invisible at fixed repeats) — `runs` records the count.
    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    spreads: dict[str, float] = {}
    run_counts: dict[str, int] = {}
    jvm_cpu: dict[str, float] = {}
    gc_ms: dict[str, int] = {}
    query_steal: dict[str, float] = {}
    bench_start = _cpu_times()
    for name in names:
        n = 0
        s0 = _cpu_times()
        samples: list[float] = []
        best_cpu = None
        for r in range(6):
            c0, g0 = _jvm_meters(spark)
            t0 = time.perf_counter()
            n = _force(qs[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            c1, g1 = _jvm_meters(spark)
            if not samples or dt < min(samples):
                if c0 is not None and c1 is not None:
                    best_cpu = c1 - c0
                if g0 is not None and g1 is not None:
                    gc_ms[name] = g1 - g0
            samples.append(dt)
            # best-of-3 unless the WARM-run spread says the host was
            # noisy — run 1 is the cold lane (codegen compile, shuffle
            # file creation; reported separately as first_run) and
            # would trip the gate on every compile-heavy query.
            # Relative (30% of min) AND absolute (0.4s) gates so
            # sub-second queries whose jitter is all JVM scheduling
            # don't escalate at small SF.
            warm = samples[1:]
            spread = max(warm) - min(warm) if warm else 0.0
            if r >= 2 and (spread <= 0.30 * min(warm) or spread <= 0.4):
                break
        sp = _steal_pct(s0, _cpu_times())
        if sp is not None:
            query_steal[name] = sp
        timings[name] = round(min(samples), 3)
        first_runs[name] = round(samples[0], 3)
        warm = samples[1:] or samples
        spreads[name] = round(100.0 * (max(warm) - min(warm)) / min(warm), 1)
        run_counts[name] = len(samples)
        if best_cpu is not None:
            jvm_cpu[name] = round(best_cpu, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
    overall_steal = _steal_pct(bench_start, _cpu_times())

    # comparable-subset totals vs recorded rounds, computed by the
    # harness itself so round-over-round ratios never compare totals
    # drawn from different headline sets
    subsets = {}
    for tag, spec in COMPARABLE.items():
        have = [q for q in spec["names"] if q in timings]
        if len(have) == len(spec["names"]):
            tot = round(sum(timings[q] for q in have), 3)
            subsets[tag] = {
                "total": tot,
                "n": len(have),
                "ref_total": spec["ref_total"],
                "ratio": round(tot / spec["ref_total"], 3),
            }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "comparable_subsets": subsets,
                "best_of": 3,
                "first_run": first_runs,
                "spread_pct": spreads,
                "runs": run_counts,
                "jvm_cpu_sec": jvm_cpu,
                "gc_ms": gc_ms,
                "host_load": list(os.getloadavg()),
                "steal_pct": overall_steal,
                "query_steal_pct": query_steal,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
