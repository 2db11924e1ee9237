"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes via the noop sink (full pipeline runs distributed;
nothing funnels through the driver). A warmup query first absorbs JVM/
codegen startup so per-query numbers measure the plan, not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dmshadoop_spark import registry
from dmshadoop_spark.session import get_spark

registry.load_all()

HEADLINE = [
    "a6_q1_pricing_summary",   # multi-key hash agg over the fact table
    "q6_forecast_revenue",     # pure scan+pushdown (no join, one agg row)
    "q8_market_share",         # 8-table star join, conditional share agg
    "q10_returned_items",      # 4-table join with broadcast dims
    "q13_customer_distribution",  # outer join + two-level aggregation
    "q18_large_orders",        # pre-aggregated semi join + top-100
    "q21_waiting_supplier",    # EXISTS/NOT-EXISTS lineitem self-joins
    "j3_inner_join",           # fact⋈fact⋈dim join + agg
    "j4_broadcast_join",       # broadcast star join
    "j7_asof_join",            # union-trick as-of join
    "w1_latest_per_group",     # window dedup (the DMS latest-version path)
    "t2_inverted_index",       # tokenize→explode→agg (search index build)
    "t4_tfidf_topk",           # ranked retrieval
    "x1_exact_dedup",          # hash dedup
    "x2_ngram_jaccard",        # near-dup candidate join
    "x7_training_pipeline",    # lang gate → quality → dedup → accounting
    "x4_cosine_topk",          # embedding similarity
    "st1_tumbling_window",     # event-time window agg
    "st3_session_window",      # session windows
    # Arrow/mapInPandas lane (added round 5): the binary-codec path had no
    # wall-time surveillance. Both are bounded deterministic workloads
    # (doc_id < 500 / < 120), so they track the Python-worker + Arrow
    # transfer + codec cost, not SF scaling.
    "x24_extract_dispatch",    # 11-format encode→sniff→extract dispatch
    "x28_image_neardup",       # PNG encode→dHash→Hamming-banded pairs
    # Round-6 Arrow-lane additions: the audio-fingerprint and
    # video-pipeline paths (also bounded; excluded from the comparable
    # subtotal like the round-5 pair).
    "x32_audio_neardup",       # WAV mux→demux→energy hash→banded pairs
    "x33_video_neardup",       # MKV mux→demux→PNG decode→dHash→Jaccard
    # Round-7 addition: the SQ8 compressed ANN scan (JVM-only, one pass,
    # excluded from the comparable subtotal like the other late adds).
    "x5_knn_sq8",              # 8-bit quantized ADC scan + exact top-k
    # Round-9 additions (round-8 verdict task 6): the operator tier whose
    # regressions the next rounds most need to see. x36's wall time
    # includes its 12 driver-synchronized GD rounds and x38's includes
    # its model checkpoint — a scheduler-latency component rides along,
    # but a REGRESSION in either (an extra corpus scan, a lost
    # checkpoint) still shows as a step change in the band, which is
    # what surveillance is for. All three sit in `later_added`, so the
    # 19-query comparable subtotal is untouched.
    "x36_quality_classifier",  # hashed-BoW logreg: 12 GD rounds + score
    "x38_bigram_lm_score",     # bigram LM train+checkpoint+join score
    # Round-10 swap (r9 verdict task 3): the bench lane now measures the
    # PRODUCTION search path (candidates + rerank). The old lane entry,
    # x5_knn_jl_sq8, carries a brute-force exact ground-truth pass and
    # per-query recall joins — surveillance was measuring the audit
    # (8.2s median), not the index; the audit stays driver-checked.
    "x5_knn_jl_sq8_prod",      # composed JL+SQ8 candidate gen + rerank
    # Late-round-9 addition: the semantic-dedup production default
    # (auto-k clustering -> intra-cell pairs -> components -> survivor).
    # Its wall time rides the iterative-loop machinery (Lloyd rounds +
    # component rounds + per-round checkpoints), so it is the lane that
    # would have caught the exponential-planner stall (SCALE.md, late
    # r9) had it existed earlier — that is exactly why it exists now.
    # In `later_added`; the 19-query comparable subtotal is untouched.
    "x35b_semdedup_autok",     # SemDeDup production default, end-to-end
    # Round-10 addition: the exact-substring span-excision tier (Lee et
    # al. 2022) — one Arrow hashing pass + hash-keyed detection + island
    # merge + excision join; sub-second at sf0.1, watched for the step
    # change an extra corpus scan or a lost stabilize() would cause.
    "x39_substring_dedup",     # ExactSubstr span excision
    # Round-11 addition: the substring tier's at-ingest lane — index
    # build over the corpus partition + one broadcast-semi index probe
    # per batch + excision + index append. Watched for the step change
    # a shuffled index scan or a lost batch stabilize() would cause.
    # In `later_added`; the comparable subtotal is untouched.
    "x42_substring_ingest",    # substring dedup at ingest (index probe)
]


def run_query(spark, name: str, sf_dir: str) -> float:
    fn = registry.QUERIES[name]
    start = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def _await_idle() -> tuple[float, bool]:
    """Wait (bounded) for the 1-min load average to drop under the noise
    threshold before measuring — the round-6 verdict's task 5: BENCH
    numbers on a loaded shared host read as regressions until the noise
    tables launder them; gating at the source makes the JSON
    self-describing instead. Returns (load_at_start, started_idle).

    Threshold: n_cpus/8 (4.0 on the 32-CPU bench box — r6's idle
    reference ran at 2.97, the noisy driver run at 7.3). Wait budget:
    $SPARK_GRAFT_BENCH_IDLE_WAIT_S (default 120 s, 0 to skip); if the
    box never quiets down the run proceeds and the output says so via
    load_classified, so the driver always gets its JSON line."""
    threshold = max(2.0, (os.cpu_count() or 8) / 8)
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT_S", "120"))
    deadline = time.monotonic() + budget
    load1 = os.getloadavg()[0]
    while load1 > threshold and time.monotonic() < deadline:
        time.sleep(10)
        load1 = os.getloadavg()[0]
    return load1, load1 <= threshold


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    load_start, started_idle = _await_idle()
    spark = get_spark(app_name="dmshadoop-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: run every headline shape once at the MEASURED SF so measured
    # numbers reflect steady-state plan execution, not per-shape codegen/JIT.
    # Warming at a smaller SF is not enough: AQE re-plans at the measured
    # size (different broadcast/coalesce decisions), so each first run at
    # sf0.1 pays fresh whole-stage codegen (~0.3-0.7s/query, the dominant
    # term for sub-second plans; the lambda-heavy shingle/pair expressions
    # cost ~2s to compile alone).
    for name in HEADLINE:
        run_query(spark, name, sf_dir)

    # Five measured passes. Two statistics per query:
    #   * best-of over the FIRST THREE passes — bit-compatible with the
    #     r03-r05 "warm_at_sf+best_of_3" protocol, so round-over-round
    #     totals stay comparable;
    #   * median-of-5 over all passes — the round-5 verdict's task 4:
    #     single-shot best-of can't distinguish a code regression from
    #     shared-host load (r05's uniform +21% drift was diagnosed as
    #     load by inference). The median plus the recorded min-max band
    #     and the load-average stamp below make that call from data.
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(5):
        for name in HEADLINE:
            passes[name].append(round(run_query(spark, name, sf_dir), 4))

    timings = {n: min(ts[:3]) for n, ts in passes.items()}
    medians = {n: round(sorted(ts)[2], 4) for n, ts in passes.items()}
    bands = {n: [min(ts), max(ts)] for n, ts in passes.items()}

    total = round(sum(timings.values()), 4)
    # Round-over-round comparable subtotal: the 19-query set benched in
    # rounds 1-4, before the round-5/6 Arrow-lane additions.
    later_added = {
        "x24_extract_dispatch", "x28_image_neardup",
        "x32_audio_neardup", "x33_video_neardup",
        "x5_knn_sq8",
        "x36_quality_classifier", "x38_bigram_lm_score", "x5_knn_jl_sq8_prod",
        "x35b_semdedup_autok", "x39_substring_dedup",
        "x42_substring_ingest",
    }
    shared = round(
        sum(t for n, t in timings.items() if n not in later_added), 4
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "queries_band": bands,
                "median_total": round(sum(medians.values()), 4),
                "shared_set_total": shared,
                "sf": sf,
                # Host-contention stamp: (1m, 5m, 15m) load averages at
                # measurement end, plus the core count — a load average
                # near/above n_cpus means the numbers carry scheduling
                # noise, not plan cost.
                "env": {
                    "load_avg": [round(x, 2) for x in os.getloadavg()],
                    "load_avg_start": round(load_start, 2),
                    "n_cpus": os.cpu_count(),
                    # Round-13 (r12 verdict task 2): PROVE the core-count
                    # contract from the artifact itself. os.cpu_count()
                    # is the host's cores; these two are what the JVM
                    # actually RUNS with — the resolved master string and
                    # the scheduler's defaultParallelism — so a
                    # $SPARK_GRAFT_CPUS=8 run is distinguishable from a
                    # 32-core run even when fixed per-query costs make
                    # the timings similar.
                    "spark_master": spark.sparkContext.master,
                    "default_parallelism": (
                        spark.sparkContext.defaultParallelism
                    ),
                    "spark_graft_cpus": os.environ.get(
                        "SPARK_GRAFT_CPUS"
                    ),
                },
                # Mechanical noise classification (round-6 verdict task 5):
                # "idle" iff the 1-min load was under n_cpus/8 both when
                # measurement started (after the bounded idle-wait) and
                # when it ended. A "noisy" total is not comparable to
                # BASELINE.md's canonical row — read queries_median against
                # the per-query noise bands instead.
                "load_classified": (
                    "idle"
                    if started_idle
                    and os.getloadavg()[0]
                    <= max(2.0, (os.cpu_count() or 8) / 8)
                    else "noisy"
                ),
                # Measurement protocol version: round-1 was single-shot cold;
                # rounds ≥2 warm every shape at the measured SF then take
                # best-of-3 (identical here: best over the first 3 of 5
                # passes). Totals are only comparable within a protocol;
                # medians/bands are the cross-round noise reference.
                "protocol": "warm_at_sf+best_of_3+median_of_5",
            }
        ),
        flush=True,  # the ONE contract line lands before interpreter
        # teardown / Spark shutdown can interleave anything (the r11
        # bench JSON reached the driver unparseable with rc=0)
    )
    spark.stop()


if __name__ == "__main__":
    main()
