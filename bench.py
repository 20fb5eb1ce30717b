"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf", "runs", "spread"}
plus "emr_k1000_x10_sec" — the reference's EMR-scale PageRank workload —
unless SPARK_GRAFT_BENCH_EMR=0.

Each query is forced end-to-end with the noop sink (full execution, no
driver-side collect). Code paths are warmed at the smallest scale factor
first so timings measure steady-state execution, not JVM startup; a
second untimed pass at the TARGET sf_dir then pays every per-(app,
sf_dir) one-time build (memoized BFS levels, pair-exchange volume
bounds, OS page cache) so headline walls are steady-state and
suite-composition independent (VERDICT r9 next #3 — the r9 false-flag
class). Disable with SPARK_GRAFT_BENCH_TARGET_WARM=0.

Noise control (VERDICT r2 next #6: ±20% host-load swings on identical
code swamped the round-over-round signal): the suite runs
$SPARK_GRAFT_BENCH_RUNS (default 3) full INTERLEAVED rounds — round-robin
over queries, not back-to-back repeats, so a load burst lands on
different queries in different rounds — and reports the per-query MEDIAN
plus [min, max] spread. "value" is the sum of medians.

Load-aware regression gate (VERDICT r4 next #5): each round starts with a
constant-work JVM calibration probe; "calib_sec" goes in the JSON, and
vs_prev divides current timings by max(1, calib_now/calib_prev) before
applying the 25% threshold — so "host was busy" and "code regressed" are
distinguishable. A faster host never masks a regression (ratio clamped
at 1).

Host-noise triangulation (round 9): "host_steal_pct" /
"group_steal_max_pct" / per-rep "emr_k1000_x10_steal_pct" come from
/proc/stat deltas, and "bw_probe_sec" / "bw_probe_max_sec" /
"emr_k1000_x10_bw_probe" from a driver-side 200 MB sequential-sum
probe. The ALU-bound calibration probe measures host throughput but is
blind to (a) straggler amplification — a few % of hypervisor steal
randomly delaying one task per stage inflates a many-barrier iterative
workload ~3x while the probe stays fast — and (b) co-tenant memory-
bandwidth/LLC contention, which slows shuffle-heavy barriers with ZERO
steal. calib + steal% + bandwidth together make both classes
adjudicable from the JSON alone (PERF.md, driver round 9 §3).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "graph_pagerank",
    "graph_connected_components",
    "q1_pricing_summary",
    "join_broadcast_region_revenue",
    "join_left_customer_orders",
    "join_range_event_pairs",
    "window_topk_per_order",
    "window_running_sum",
    "agg_count_distinct",
    "agg_cube",
    "order_limit_top25",
    "dedup_minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_fuzzy_pairs",
    "ann_bruteforce_topk",
    "join_asof_latest_order",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q18_large_orders",
    "stream_click_attribution",
    # round 2 additions
    "q6_forecast_revenue",
    "q8_market_share",
    "q21_late_suppliers",
    "graph_triangle_counts",
    "graph_kcore",
    "text_tfidf_top_terms",
    "events_enriched_segments",
    # round 3 additions
    "events_funnel_conversion",
    "dedup_passages",
    "agg_kmv_distinct",
    "graph_common_neighbors",
    "window_percent_rank",
    "interval_overlap_orders",
    "events_retention_cohorts",
    # round 4 additions
    "graph_scc_fwbw",
    "graph_lpa_communities",
    "dedup_minhash_jaccard_est",
    "dedup_ngram_containment",
    "join_bitmap_semi_orders",
    "text_vocab_coverage",
    # round 4 additions (statistical-mining batch)
    "basket_pair_counts",
    "rfm_segments",
    "graph_clustering_coeff",
    "rolling_7d_distinct_users",
    # round 5 additions
    "dq_value_drift_psi",
    "sample_pps_orders",
    "ann_pq_serve_topk",
    "graph_ktruss",
    "graph_hash_walks",
    "rec_item_item_topk",
    "mm_image_phash_pairs",
    "mm_audio_fp_pairs",
    # round 6 additions (VERDICT r5 next #6: the round-5 registrations
    # the 53-query headline omitted, + the new IVF-PQ serving plan)
    "graph_square_count",
    "text_unigram_nll",
    "events_trigram_paths",
    "lineitem_daily_vwap",
    "graph_closeness_sampled",
    "agg_p90_by_type",
    "ann_ivfpq_serve_topk",
    # round 6 in-round registrations (the heavy members of the new
    # surface, so the r7 gate covers them from day one)
    "graph_adamic_adar",
    "basket_lift_pairs",
    "orders_pareto_8020",
    "dedup_incremental_new_docs",
    "mm_video_fp_pairs",
    "text_js_divergence",
    # round 7 in-round registrations (the heavy members: wedge-join
    # reach, global prefix sum, PMI pair mining, triple-KMV sketch,
    # two-pass quantization audit)
    "graph_two_hop_reach",
    "orders_open_backlog_daily",
    "text_pmi_top_pairs",
    "sketch_kmv_intersection",
    "embedding_quantize_int8",
    # round 8 in-round registrations (the heavy members: the IVF
    # recall sweep shares kmeans training with the serve paths; the
    # late-arrival audit rides the running-max chassis; the gini runs
    # the two-pass ranking over the token-count relation; popularity
    # lift re-executes the item-item pair chassis)
    "ann_ivf_recall_sweep",
    "events_late_arrival_audit",
    "text_doc_len_gini",
    "rec_popularity_lift",
    # round 8 batch-19 registrations (the heavy members: KM survival
    # runs the per-customer LEAD window over the fact table; the lift
    # table cuts NTILE(10) on the two-pass global-ranking chassis;
    # rule confidence re-runs the volume-sized basket pair exchange;
    # the silhouette shares kmeans training with the IVF family)
    "survival_kaplan_meier",
    "orders_lift_gains_deciles",
    "basket_rule_confidence",
    "embedding_silhouette",
    # round 8 batch-20 registrations (the heavy members: interpolated
    # NLL runs the token-grain model joins; the threshold curve
    # re-executes the banded candidate + signature joins; kNN accuracy
    # rides the brute-force broadcast chassis; the forward as-of runs
    # the union-sort exchange over orders+events)
    "text_bigram_nll_interp",
    "dedup_minhash_threshold_curve",
    "embedding_knn_label_accuracy",
    "join_asof_forward",
    # round 10 additions — the heavy members of the round-10 audit
    # window that had no standing bench row (the fused k-core curve's
    # chained peel, the PageRank+Katz+Spearman composition capstone,
    # and the exposure Gini's volume-sized pair exchange), so the
    # per-round gate covers them from their first driver green on
    "graph_kcore_decomposition",
    "graph_centrality_rank_agreement",
    "rec_exposure_gini",
    # round 10 batch-35 registrations (the heavy members: both ride the
    # m^(3/2) degree-oriented wedge chassis over the co-occurrence
    # graph — the support pass and the per-node triangle pass)
    "graph_local_bridges",
    "graph_clustering_by_degree",
    # round 10 batch-36 registration (the heavy member: re-executes the
    # item-item volume-sized pair exchange for the novelty join)
    "rec_novelty_itemitem",
    # round 11 batch-38 registrations (the heavy members: the global
    # bottom-k heap scan of lineitem, and the merge audit's two
    # independent scans + partitioned-window grouped sketch)
    "sketch_quantile_bottomk",
    "sketch_quantile_merge_audit",
    # round 12 batch-39 registrations (the heavy members: the two-phase
    # sampled-source betweenness chassis, and the bigram heavy-hitters
    # pairing window + sharded top-m merge)
    "graph_betweenness_sampled",
    "sketch_heavy_hitters_topk",
]

# Rotating non-headline slice (VERDICT r6 next #5): 66 headline rows
# left ~190 registered queries with no timing evidence ever — a
# mis-shaped plan on a non-headline query would never be caught by the
# bench. Each round additionally times SLICE_SIZE registry queries
# once (single pass, not medianed — this is smoke coverage, not the
# regression gate), rotating deterministically: the rotation index is
# the count of recorded driver rounds (BENCH_r*.json), so successive
# rounds walk the whole registry without any state file. Slice rows
# land in the JSON under "slice"/"slice_rotation" and never join
# "value" or the vs_prev gate.
SLICE_SIZE = 20

# 10× scale block (VERDICT r12 next #6): the sf0.1 suite is scheduler-
# bound, so the driver's 8-vs-32-core scaling probe reads ≈1 everywhere
# and carries no parallelism evidence. Each bench run additionally times
# a handful of heavy-chassis queries ONCE against a 10× disjoint-copies
# replica of the target sf dir (tools/make_scale_dir.py — deterministic,
# built under /tmp on first use, reused by the driver's second, low-core
# invocation), reported under the separate "scale10x" JSON key so the
# headline "value"/vs_prev contract is untouched. At 10× volume the
# heavy chassis are compute-bound and the two core counts separate:
# the low-core/high-core ratio of scale10x walls IS the parallelism
# evidence the sf0.1 rows cannot give. Disable: SPARK_GRAFT_BENCH_SCALE10X=0.
#
# Set selection (r13, measured at /tmp 10× on this host, ratio =
# 8-core/32-core wall): the Σ basket² pair chassis separate cleanly
# (rec_item_item_topk 2.21, rec_popularity_lift 1.70) and the Brandes
# chassis moderately (graph_betweenness_sampled 1.29); the superstep
# chassis remain BARRIER-LATENCY-bound even at 10× (pagerank 0.85,
# connected_components 0.62, ktruss 1.08, dedup_clusters 1.03 — per-
# superstep state is hundreds of KB, so fewer/larger tasks win).
# graph_pagerank stays in the set as the flagship canary precisely to
# record that fact honestly; the three others carry the parallelism
# signal.
SCALE10X_FACTOR = 10
SCALE10X_QUERIES = [
    "graph_pagerank",
    "rec_item_item_topk",
    "rec_popularity_lift",
    "graph_betweenness_sampled",
]

# Queries whose first run triggers a one-time on-disk index build under
# /tmp (similarity/queries._serve_index_dir). The build is forced once,
# untimed, before the timed rounds — otherwise the first sample's median
# (and the vs_prev gate) depends on ambient /tmp state, not code
# (ADVICE r5).
INDEX_BUILD_WARMUP = ["ann_pq_serve_topk", "ann_ivfpq_serve_topk"]

# Per-group calibration (VERDICT r5 next #7): one bracketing probe per
# round cannot see mid-suite load bursts, so flags on queries that ran
# during a burst were unadjudicable (the r5 mm_audio ambiguity). The
# suite is chunked into groups of GROUP_SIZE consecutive queries; each
# round runs a ~0.3 s probe immediately BEFORE each group, and vs_prev
# adjusts each query's regression threshold by ITS group's load ratio.
GROUP_SIZE = 8

# Quiet band for the self-cleaning group retry (VERDICT r10 next #4):
# a group attempt whose steal% or memory-bandwidth probe exceeds these
# is contaminated by ambient host noise (the two documented classes:
# bursty CPU steal, memory-bus contention) and earns one retry. The bw
# probe reads ~0.06-0.07 s on a quiet host; 0.12 s = the 2× contention
# signature seen in every adjudicated bus-noise flag.
QUIET_STEAL_PCT = float(os.environ.get("SPARK_GRAFT_QUIET_STEAL_PCT", "2.0"))
QUIET_BW_SEC = float(os.environ.get("SPARK_GRAFT_QUIET_BW_SEC", "0.12"))


def _seal_stdout() -> int:
    """Route fd 1 to stderr for this process AND every child (the local
    Spark JVM inherits fd 1 at launch), returning a dup of the ORIGINAL
    stdout for the final JSON line. VERDICT r12 "what's wrong" #1: the
    r11 graded row printed rc 0 but `parsed: null` — the one-line JSON
    was corrupted in flight, and the JVM sharing fd 1 is the only writer
    that can interleave mid-line (pipe writes above PIPE_BUF are not
    atomic). After this, NOTHING in the process can touch the real
    stdout except _emit_json_line."""
    real = os.dup(1)
    os.set_inheritable(real, False)
    sys.stdout.flush()
    os.dup2(2, 1)
    return real


def _emit_json_line(fd: int, obj: dict) -> None:
    """Write obj as exactly one newline-terminated JSON line to fd,
    round-tripping it through json.loads first so an unserializable or
    self-truncating payload fails HERE (visible, in-round) instead of
    blinding the driver's next comparison."""
    line = json.dumps(obj, allow_nan=False)  # NaN/Infinity are not JSON
    json.loads(line)  # round-trip guard: never emit an unparseable line
    data = (line + "\n").encode()
    while data:
        n = os.write(fd, data)
        data = data[n:]


def _scale_sentinel(sf_dir: str, factor: int, recipe: str) -> str:
    """The text ``_SCALE_OK`` holds for a scale replica: its source dir,
    the factor and a sha256 of the build recipe (the script at
    ``recipe``). A replica is reused only on an exact match, so a new
    factor or an edited recipe rebuilds it."""
    with open(recipe, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    return f"{sf_dir}\nfactor={factor}\nrecipe_sha256={digest}\n"


def _cpu_counters() -> list[int] | None:
    """Cumulative jiffies from /proc/stat line 1 (user nice system idle
    iowait irq softirq steal ...). Deltas between two snapshots give the
    host's CPU mix over the interval. None if unreadable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Hypervisor steal% between two _cpu_counters snapshots.

    Why this exists (round-9 adjudication): the calibration probe is one
    32-task embarrassingly-parallel barrier — it measures effective
    throughput but is blind to STRAGGLER amplification, where a few
    percent of steal randomly delays one task per stage and a ~50-barrier
    iterative workload (emr_k1000_x10) inflates 3x while the probe stays
    fast. Dedicated interleaved runs measured walls of [10.9, 36.0] s on
    identical code with probe medians FASTER than the settled baseline;
    /proc/stat showed up to 8.3% steal during the slow reps and <1%
    during the in-band ones. steal% in the bench JSON makes that class
    directly adjudicable instead of inferred."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    if len(d) < 8:
        return None
    # Only the first 8 fields (user..steal): Linux already folds guest/
    # guest_nice into user/nice, so including them double-counts guest
    # time and understates steal% on hosts running guests (ADVICE r9).
    tot = sum(d[:8])
    if tot <= 0:
        return None
    return round(100.0 * d[7] / tot, 2)


_BW_BUF = None


def _bandwidth_probe() -> float:
    """Driver-side memory-bandwidth probe: three sequential sums over a
    fixed 200 MB float64 buffer (~600 MB traversed, allocation excluded
    and reused across calls). Completes the noise-triangulation triple:
    the calibration probe is ALU-bound (host throughput), steal% is
    hypervisor theft, and THIS is the memory bus — co-tenant bandwidth /
    LLC contention slows shuffle-heavy barriers 2-3x while leaving both
    of the others flat (the round-9 emr adjudication: walls 13-17 s vs
    the 9.7-11 s band at 0.05% steal and a probe only 1.14x slower)."""
    import numpy as np

    global _BW_BUF
    if _BW_BUF is None:
        _BW_BUF = np.ones(25_000_000)
    t0 = time.time()
    acc = 0.0
    for _ in range(3):
        acc += float(_BW_BUF.sum())
    assert acc > 0
    return round(time.time() - t0, 3)


def _calibration_probe(spark) -> float:
    """Constant-work JVM probe: hash-sum over a fixed range across 32
    tasks — no I/O, no shuffle, no Python. Its runtime tracks the host's
    CURRENT effective throughput, so ratios of probe times between two
    bench runs measure ambient load, not code. (VERDICT r4 next #5: the
    vs_prev gate flagged 8 false regressions on untouched code during a
    host-load swing; PERF.md documents identical code swinging ~2×.)"""
    import time as _t

    t0 = _t.time()
    # bit_xor, not sum: summing 2×10⁸ pseudo-random longs overflows int64
    # under ANSI mode; xor folds the same work with no overflow.
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "bit_xor(xxhash64(id)) AS s"
    ).write.format("noop").mode("overwrite").save()
    return round(_t.time() - t0, 3)


def _attempt_is_quiet(steal: float | None, bw: float) -> bool:
    """True when a group attempt's probes sit inside the quiet band
    (steal unreadable counts as quiet — nothing to adjudicate with)."""
    return (steal is None or steal <= QUIET_STEAL_PCT) and bw <= QUIET_BW_SEC


def _choose_attempt(attempts: list[dict]) -> dict:
    """Pick the best attempt: any in-quiet-band attempt (steal AND bw
    probe both clean) beats any out-of-band one, so a retry triggered by
    the memory-bus noise class can win even when its steal is slightly
    higher; ties rank by readable-steal-first then lowest steal."""
    return min(
        attempts,
        key=lambda a: (
            not _attempt_is_quiet(a["steal"], a.get("bw", 0.0)),
            a["steal"] is None,
            a["steal"] or 0.0,
        ),
    )


def _groups() -> list[list[str]]:
    return [HEADLINE[i : i + GROUP_SIZE] for i in range(0, len(HEADLINE), GROUP_SIZE)]


def _wait_for_quiet_row(
    threshold_pct: float = 1.0,
    window_sec: float = 10.0,
    poll_sec: float = 30.0,
    max_wait_sec: float = 300.0,
) -> tuple[float, float]:
    """Block (bounded) until host steal%% over a window drops below
    threshold_pct, so the whole graded row starts inside a verified-quiet
    window (VERDICT r11 next #5 — cheaper than more group retries). Gives
    up after max_wait_sec: the per-group probes still mark a dirty run.
    Returns (last observed steal%%, seconds waited)."""
    waited = 0.0
    while True:
        a = _cpu_counters()
        time.sleep(window_sec)
        s = _steal_pct(a, _cpu_counters())
        waited += window_sec
        if s is None or s < threshold_pct or waited >= max_wait_sec:
            return (s if s is not None else 0.0), round(waited, 1)
        print(f"bench: pre-row steal {s}% — waiting for quiet", file=sys.stderr)
        time.sleep(poll_sec)
        waited += poll_sec


def main() -> None:
    # Seal stdout FIRST — before the Spark JVM (which inherits fd 1) can
    # exist. Everything below that prints goes to stderr; the graded JSON
    # line is the only byte ever written to the real stdout.
    real_stdout = _seal_stdout()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Pre-row quiet wait (default ON; SPARK_GRAFT_QUIET_WAIT=0 disables).
    pre_steal, quiet_waited = (None, 0.0)
    if os.environ.get("SPARK_GRAFT_QUIET_WAIT", "1") != "0":
        pre_steal, quiet_waited = _wait_for_quiet_row()

    import __spark_entry__ as entrymod
    from page_rank_mapreduce_java_spark import get_spark

    spark = get_spark(app_name="bench")
    qs = entrymod.queries()

    missing = [name for name in HEADLINE if name not in qs]
    if missing:
        raise KeyError(f"headline queries not in registry: {missing}")

    # Warm the session: run every headline query once at the smallest SF
    # (different data, same code paths) so timings measure steady-state
    # execution, not JVM classloading / codegen compilation. Warmup
    # failures are reported (to stderr, keeping stdout one JSON line) —
    # a silently-skipped warmup shifts compilation cost into the timings.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - warmup must not kill the bench
            print(f"bench: warmup failed for {name}: {e}", file=sys.stderr)

    # Force the one-time on-disk index builds OUTSIDE the timed rounds
    # (ADVICE r5): run the serve queries once at the TARGET sf_dir.
    for name in INDEX_BUILD_WARMUP:
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - warmup must not kill the bench
            print(f"bench: index warmup failed for {name}: {e}", file=sys.stderr)

    # Warm-state convention (VERDICT r9 next #3): headline walls are
    # STEADY-STATE measurements. Several queries consume per-(app,
    # sf_dir) one-time builds — the memoized BFS levels relation
    # (graph/queries._LEVELS_CACHE feeds the distance-centrality
    # family), the memoized pair-exchange volume bounds
    # (plans/pairsize._BOUND_CACHE), OS page-cache warmth of the target
    # parquet — so whichever rep ran first used to pay the build and the
    # wall became suite-composition dependent (the r9 0.18↔13.2 s
    # closeness and 0.8↔3.4 s basket_lift bimodality, the dominant
    # false-flag source). One untimed full pass at the TARGET sf_dir
    # pays every such build before the timed rounds. _RANKS_CACHE is the
    # deliberate exception: it is cleared before each timed round
    # because graph_pagerank (the first headline member) IS the build —
    # its wall must include the superstep loop; later consumers in the
    # same round read the warm vector, which is deterministic because
    # suite order is fixed.
    if os.environ.get("SPARK_GRAFT_BENCH_TARGET_WARM", "1") != "0":
        for name in HEADLINE:
            try:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001
                print(
                    f"bench: target warmup failed for {name}: {e}",
                    file=sys.stderr,
                )
            spark.catalog.clearCache()

    # Query functions persist() intra-query intermediates (LSH signatures,
    # self-join inputs); those caches are only useful within one
    # materialization, so release them between queries — otherwise the
    # warmup + timed runs accumulate executor storage for the session.
    spark.catalog.clearCache()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    groups = _groups()
    group_samples: list[list[float]] = [[] for _ in groups]
    group_steal_samples: list[list[float]] = [[] for _ in groups]
    group_bw_samples: list[list[float]] = [[] for _ in groups]
    group_retry_log: list[dict] = []
    bench_cpu0 = _cpu_counters()
    for _ in range(runs):
        # Drop the memoized PageRank rank vector: a repeat run must
        # re-execute the superstep loop, not time a dict lookup.
        from page_rank_mapreduce_java_spark.graph.queries import _RANKS_CACHE

        _RANKS_CACHE.clear()
        for gi, group in enumerate(groups):
            # Self-cleaning rows (VERDICT r10 next #4): a group whose
            # steal/bw probes land outside the quiet band gets ONE timed
            # retry — the builder can rerun a noisy bench by hand, but
            # the driver's graded row cannot, and round 10 burned ten
            # flags on a 3%-steal host. Both attempts are recorded
            # (out["group_retries"]); the attempt with less steal wins.
            attempts = []
            max_attempts = 1 + max(
                0, int(os.environ.get("SPARK_GRAFT_BENCH_GROUP_RETRIES", "1"))
            )
            for attempt in range(max_attempts):
                if attempt and "graph_pagerank" in group:
                    # A retried pagerank must re-run the superstep loop,
                    # not read the vector the first attempt memoized.
                    _RANKS_CACHE.clear()
                bw = _bandwidth_probe()
                probe = _calibration_probe(spark)
                # Snapshot AFTER the probes so the steal interval covers
                # only the timed queries, not probe time (ADVICE r9).
                cpu0 = _cpu_counters()
                walls = {}
                for name in group:
                    t0 = time.time()
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    walls[name] = round(time.time() - t0, 3)
                    spark.catalog.clearCache()
                st = _steal_pct(cpu0, _cpu_counters())
                attempts.append(
                    {"bw": bw, "probe": probe, "steal": st, "walls": walls}
                )
                if _attempt_is_quiet(st, bw):
                    break
            chosen = _choose_attempt(attempts)
            if len(attempts) > 1:
                group_retry_log.append(
                    {
                        "group": gi,
                        "first": group[0],
                        "attempts": [
                            {
                                "steal": a["steal"],
                                "bw": a["bw"],
                                "probe": a["probe"],
                                "used": a is chosen,
                            }
                            for a in attempts
                        ],
                    }
                )
            group_bw_samples[gi].append(chosen["bw"])
            group_samples[gi].append(chosen["probe"])
            for name in group:
                samples[name].append(chosen["walls"][name])
            if chosen["steal"] is not None:
                group_steal_samples[gi].append(chosen["steal"])

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {name: median(ts) for name, ts in samples.items()}
    spread = {name: [min(ts), max(ts)] for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    all_probes = [s for g in group_samples for s in g]
    calib_sec = median(all_probes)
    # query -> its group's median probe time (the load estimate local to
    # the moment the query actually ran)
    group_calib = {
        name: median(group_samples[gi])
        for gi, group in enumerate(groups)
        for name in group
    }
    group_bw = {
        name: median(group_bw_samples[gi])
        for gi, group in enumerate(groups)
        for name in group
        if group_bw_samples[gi]
    }

    # The reference's own production workload (Makefile aws.k=1000,
    # aws.iterations=10 — provisioned as 1 master + 5 core m6a.xlarge on
    # EMR): k=1000 chains → 10⁶ nodes, 10 supersteps, one local session.
    emr_sec = None
    if os.environ.get("SPARK_GRAFT_BENCH_EMR", "1") != "0":
        from page_rank_mapreduce_java_spark.graph.generators import chain_edges
        from page_rank_mapreduce_java_spark.graph.pagerank import pagerank

        emr_samples = []
        emr_steals: list[float] = []
        emr_bw: list[float] = []
        for _ in range(runs):
            emr_bw.append(_bandwidth_probe())
            ecpu0 = _cpu_counters()
            t0 = time.time()
            pagerank(chain_edges(spark, 1000), num_iterations=10).ranks.write.format(
                "noop"
            ).mode("overwrite").save()
            emr_samples.append(round(time.time() - t0, 3))
            est = _steal_pct(ecpu0, _cpu_counters())
            if est is not None:
                emr_steals.append(est)
        emr_sec = median(emr_samples)
        # The ~50-barrier superstep loop is the workload most exposed to
        # straggler amplification; MIN and per-rep steal make a slow
        # median adjudicable (see _steal_pct docstring).
        emr_extra = {
            "emr_k1000_x10_runs": emr_samples,
            **({"emr_k1000_x10_steal_pct": emr_steals} if emr_steals else {}),
            **({"emr_k1000_x10_bw_probe": emr_bw} if emr_bw else {}),
        }

    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # cpus recorded so vs_prev never again adjudicates a 32-core row
        # against the driver's 8-core scaling run (r13: the mid-round
        # row compared against BENCH_r12's c8 history row — every flag
        # was a cross-core-count artifact).
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
        "runs": runs,
        "spread": spread,
        "calib_sec": calib_sec,
        "calib_runs": all_probes,
        "group_calib": group_calib,
    }
    host_steal = _steal_pct(bench_cpu0, _cpu_counters())
    if host_steal is not None:
        out["host_steal_pct"] = host_steal
    if pre_steal is not None:
        out["pre_row_steal_pct"] = pre_steal
        out["quiet_wait_sec"] = quiet_waited
    flat_steal = [s for g in group_steal_samples for s in g]
    if flat_steal:
        out["group_steal_max_pct"] = max(flat_steal)
    flat_bw = [s for g in group_bw_samples for s in g]
    if flat_bw:
        out["bw_probe_sec"] = median(flat_bw)
        out["bw_probe_max_sec"] = max(flat_bw)
        # group_bw must be present on CLEAN rows too — vs_prev's
        # group_bw_ratio noise-class signal (ADVICE r11: keying it on
        # group_retry_log dropped it exactly when the row was quiet).
        out["group_bw"] = group_bw
    if group_retry_log:
        out["group_retries"] = group_retry_log
    if emr_sec is not None:
        out["emr_k1000_x10_sec"] = emr_sec
        out.update(emr_extra)

    # Rotating non-headline slice (see SLICE_SIZE above). Single timed
    # pass each; failures are recorded (a slice query that ERRORS is
    # exactly the signal this exists to catch) without killing the run.
    if os.environ.get("SPARK_GRAFT_BENCH_SLICE", "1") != "0":
        import glob as _glob

        here0 = os.path.dirname(os.path.abspath(__file__))
        rotation = len(_glob.glob(os.path.join(here0, "BENCH_r*.json")))
        pool = sorted(n for n in qs if n not in set(HEADLINE))
        if pool:
            start = (rotation * SLICE_SIZE) % len(pool)
            picked = [
                pool[(start + i) % len(pool)]
                for i in range(min(SLICE_SIZE, len(pool)))
            ]
            slice_calib = _calibration_probe(spark)
            slice_t: dict[str, float] = {}
            for name in picked:
                t0 = time.time()
                try:
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    slice_t[name] = round(time.time() - t0, 3)
                except Exception as e:  # noqa: BLE001
                    slice_t[name] = -1.0
                    print(f"bench: slice query {name} failed: {e}",
                          file=sys.stderr)
                spark.catalog.clearCache()
            out["slice"] = slice_t
            out["slice_rotation"] = rotation
            out["slice_calib_sec"] = slice_calib

    # 10× scale block (see SCALE10X_QUERIES above). One warm pass pays
    # the per-(app, dir) one-time builds — the same steady-state
    # convention as the headline suite — then one timed noop-sink rep
    # per query (single-rep is enough: the signal is the multi-×
    # low-core/high-core ratio, not a 10% delta; steal/bw probes are
    # recorded for adjudication). _RANKS_CACHE is cleared before the
    # timed pagerank rep exactly like the headline rounds.
    if os.environ.get("SPARK_GRAFT_BENCH_SCALE10X", "1") != "0":
        import subprocess

        here10 = os.path.dirname(os.path.abspath(__file__))
        scale_dir = os.environ.get(
            "SPARK_GRAFT_SCALE_DIR", "/tmp/sf1_scale_bench"
        )
        sentinel = os.path.join(scale_dir, "_SCALE_OK")
        recipe = os.path.join(here10, "tools", "make_scale_dir.py")
        want = _scale_sentinel(sf_dir, SCALE10X_FACTOR, recipe)
        build_sec = None
        built_from = None
        if os.path.exists(sentinel):
            try:
                built_from = open(sentinel).read()
            except OSError:
                built_from = None
        if built_from != want:
            t0 = time.time()
            try:
                rc = subprocess.run(
                    [
                        sys.executable,
                        recipe,
                        sf_dir,
                        scale_dir,
                        str(SCALE10X_FACTOR),
                    ],
                    stdout=sys.stderr,
                    stderr=sys.stderr,
                    timeout=1800,
                ).returncode
            except (OSError, subprocess.SubprocessError) as e:
                rc = -1
                print(f"bench: scale10x build error: {e}", file=sys.stderr)
            if rc == 0:
                with open(sentinel, "w") as f:
                    f.write(want)
                built_from = want
                build_sec = round(time.time() - t0, 1)
            else:
                print(
                    "bench: scale10x replica build failed; block skipped",
                    file=sys.stderr,
                )
        if built_from == want:
            from page_rank_mapreduce_java_spark.graph.queries import (
                _RANKS_CACHE as _rc10,
            )

            for name in SCALE10X_QUERIES:  # warm: one-time builds
                try:
                    spark.sparkContext.setJobDescription(f"scale10x-warm:{name}")
                    qs[name](spark, scale_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as e:  # noqa: BLE001
                    print(
                        f"bench: scale10x warm failed for {name}: {e}",
                        file=sys.stderr,
                    )
                spark.catalog.clearCache()
            s10_bw = _bandwidth_probe()
            s10_cpu0 = _cpu_counters()
            s10: dict[str, float] = {}
            for name in SCALE10X_QUERIES:
                _rc10.clear()
                t0 = time.time()
                try:
                    spark.sparkContext.setJobDescription(f"scale10x:{name}")
                    qs[name](spark, scale_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    s10[name] = round(time.time() - t0, 3)
                except Exception as e:  # noqa: BLE001
                    s10[name] = -1.0
                    print(
                        f"bench: scale10x query {name} failed: {e}",
                        file=sys.stderr,
                    )
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
            s10_steal = _steal_pct(s10_cpu0, _cpu_counters())
            out["scale10x"] = {
                "dir": scale_dir,
                "factor": SCALE10X_FACTOR,
                "base_sf": sf,
                "cpus": out["cpus"],
                "queries": s10,
                "bw_probe_sec": s10_bw,
                **({"steal_pct": s10_steal} if s10_steal is not None else {}),
                **({"build_sec": build_sec} if build_sec is not None else {}),
            }

    # Regression gate (VERDICT r3 next #7): compare per-query medians to
    # the previous recorded run at the SAME scale factor and surface >25%
    # regressions loudly — a regression should fail in-round, not wait
    # for a judge diff. Shared-query ratio + offenders go in the JSON
    # ("vs_prev"); the human-readable table goes to stderr to keep stdout
    # one line. History source: bench_history.jsonl (appended by every
    # run of this script — the driver's BENCH_r{N}.json keeps only a
    # truncated stdout tail, so it can't serve as the baseline), with the
    # driver files' "parsed" field as a fallback for a fresh clone.
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    hist_path = os.path.join(here, "bench_history.jsonl")
    prev_q, prev_label, prev_calib, prev_gc = {}, None, None, {}
    prev_bw: dict = {}
    cur_cpus = out["cpus"]
    # Baseline = the LATEST history row at this sf whose recorded core
    # count matches this run's; rows predating the cpus field (≤ r12)
    # are used only when no cpus-matched row exists (they mix the
    # driver's 8-core scaling runs into the comparison — the r13
    # mid-round false-flag source).
    fallback = None
    try:
        with open(hist_path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("sf") == sf and rec.get("queries"):
                    if rec.get("cpus") == cur_cpus:
                        prev_q, prev_label = (
                            rec["queries"],
                            "bench_history.jsonl",
                        )
                        prev_calib = rec.get("calib_sec")
                        prev_gc = rec.get("group_calib") or {}
                        prev_bw = rec.get("group_bw") or {}
                    elif rec.get("cpus") is None:
                        fallback = rec
    except (OSError, json.JSONDecodeError):
        pass
    if not prev_q and fallback is not None:
        prev_q, prev_label = fallback["queries"], "bench_history.jsonl"
        prev_calib = fallback.get("calib_sec")
        prev_gc = fallback.get("group_calib") or {}
        prev_bw = fallback.get("group_bw") or {}
    if not prev_q:
        for p in sorted(
            glob.glob(os.path.join(here, "BENCH_r*.json")),
            key=lambda x: int(re.search(r"r(\d+)", x).group(1)),
        ):
            try:
                parsed = json.load(open(p)).get("parsed") or {}
            except (OSError, json.JSONDecodeError):
                continue
            if parsed.get("sf") == sf and parsed.get("queries"):
                prev_q, prev_label = parsed["queries"], os.path.basename(p)
                prev_calib = parsed.get("calib_sec")
                prev_gc = parsed.get("group_calib") or {}
                prev_bw = parsed.get("group_bw") or {}
    if prev_q:
        prev_path = prev_label
        shared = [n for n in timings if n in prev_q and prev_q[n] > 0]
        if shared:
            cur_sum = sum(timings[n] for n in shared)
            prev_sum = sum(prev_q[n] for n in shared)
            # Calibration-normalized gate: only excuse slowdowns when the
            # probe shows THIS host run is slower than the baseline run
            # (load > 1); a faster host never hides a real regression.
            calib_ratio = (
                round(calib_sec / prev_calib, 3) if prev_calib else None
            )
            load = max(1.0, calib_ratio or 1.0)

            def load_for(n: str) -> float:
                # Per-group load when BOTH runs carry group probes for
                # this query (VERDICT r5 next #7): the probe that ran in
                # the same minute as the query adjudicates its flag —
                # a mid-suite burst auto-clears, a real regression under
                # a calm group stays flagged. Clamped at 1 like the
                # global ratio (a faster host never masks a regression).
                if prev_gc.get(n) and group_calib.get(n):
                    return max(1.0, group_calib[n] / prev_gc[n])
                return load

            def bw_ratio_for(n: str) -> float | None:
                # Memory-bus contention local to this query's group,
                # relative to the baseline run (>1 = bus was slower
                # now). Advisory only — it annotates flags for the
                # adjudicator rather than excusing them, because bus
                # contention during the PROBE instant and during the
                # query are correlated but not equal.
                if prev_bw.get(n) and group_bw.get(n):
                    return round(group_bw[n] / prev_bw[n], 2)
                return None

            regressions = {
                n: {"prev": prev_q[n], "now": timings[n],
                    "ratio": round(timings[n] / prev_q[n], 2),
                    "ratio_calib_adj": round(
                        timings[n] / (prev_q[n] * load_for(n)), 2
                    ),
                    "group_load": round(load_for(n), 3),
                    **({"group_bw_ratio": bw_ratio_for(n)}
                       if bw_ratio_for(n) is not None else {})}
                for n in shared
                if timings[n] > prev_q[n] * 1.25 * load_for(n)
            }
            out["vs_prev"] = {
                "file": prev_path,
                "shared_queries": len(shared),
                "total_ratio": round(cur_sum / prev_sum, 3),
                "calib_ratio": calib_ratio,
                "regressed_over_25pct_calib_adj": regressions,
            }
            if regressions:
                print(
                    f"bench: {len(regressions)} queries regressed >25% vs "
                    f"{os.path.basename(prev_path)}:",
                    file=sys.stderr,
                )
                for n, r in sorted(
                    regressions.items(), key=lambda kv: -kv[1]["ratio"]
                ):
                    print(
                        f"bench:   {n}: {r['prev']}s -> {r['now']}s "
                        f"({r['ratio']}x)",
                        file=sys.stderr,
                    )
    try:
        with open(hist_path, "a") as f:
            f.write(json.dumps(out) + "\n")
    except OSError as e:
        print(f"bench: could not append history: {e}", file=sys.stderr)
    _emit_json_line(real_stdout, out)


if __name__ == "__main__":
    main()
