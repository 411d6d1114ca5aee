"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. The driver records this as
BENCH_r{N}.json and compares against BASELINE.md's protocol (within 2x at
the same scale factor).

Timing method: one warm-up action to absorb JVM/session start, then each
query timed end-to-end (plan + execute + collect-to-count). Queries run on
the same session — matching how the reference benchmarks successive queries
against a warm server process.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clickhouse_23_3_19_32_lts_spark.queries import all_queries
from clickhouse_23_3_19_32_lts_spark.session import get_spark

# Headline set: aggregation, star joins, top-K, windows, events pipeline,
# ASOF join, dedup sketches, ANN, text analysis — one per operator family.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_regional_revenue",
    "q06_revenue_change",
    "q09_product_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q_window_order_rank",
    "q_limit_by",
    "q_count_distinct",
    "q_events_tumble",
    "q_events_json",
    "q_asof_join",
    "q_dedup_minhash_lsh",
    "q_ann_topk",
    "q_text_metrics",
    # SSB set (BASELINE.md's canonical perf queries)
    "ssb_q1_1",
    "ssb_q2_1",
    "ssb_q3_1",
    "ssb_q4_1",
    # the rest of the pipeline operators (appended, so the earlier entries
    # keep their positions and totals stay comparable over time)
    "q_dedup_simhash",
    "q_ngram_jaccard",
    "q_embedding_near_dup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]

    # Materialize through the noop sink: unlike .count(), the final
    # projection's columns cannot be pruned away, so expression cost is
    # fully measured (round-5 verdict's bench-fidelity ask).
    def _run(df):
        df.write.format("noop").mode("overwrite").save()

    # Warm-up: trigger session init + parquet footer reads once.
    _run(queries[names[0]](spark, sf_dir))

    # Machine-speed calibration: a fixed CPU-bound Spark job with no IO.
    # Its time scales with current machine load/speed, so the regression
    # guard can normalize prev-round timings recorded on a different
    # machine state (round-4 postmortem: a contended driver run looked
    # like a uniform ~2x plan regression and tripped the guard).
    t0 = time.perf_counter()
    spark.range(0, 400_000_000, 1, 32).selectExpr(
        "sum(id * 2 + (id % 7))"
    ).collect()
    calib = round(time.perf_counter() - t0, 4)

    # IO calibration: a full cold-ish parquet scan of the largest table.
    # The CPU-only job under-corrects when the machine is IO-contended
    # (round-7 verdict: uniform 1.14x drift on unchanged queries); tracking
    # both lets the judge normalize whichever resource actually moved.
    t0 = time.perf_counter()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    calib_io = round(time.perf_counter() - t0, 4)

    timings: dict[str, float] = {}
    for name in names:
        # tag the query's Spark jobs with its name (Spark UI, event log)
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        _run(queries[name](spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 4)

    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calib_sec": calib,
        "calib_io_sec": calib_io,
        # round 6: queries materialize via the noop sink instead of
        # .count() — absolute timings include full projection cost now
        # (one-time ≈ +5-10% step vs rounds ≤5; same action every round
        # hereafter, so round-over-round comparisons stay valid)
        "action": "noop-sink",
    }

    # Per-query regression diff vs the previous round's recorded bench
    # (BENCH_r{N}.json files next to this script); >1.5x slower is flagged.
    prev_files = sorted(
        f for f in os.listdir(os.path.dirname(os.path.abspath(__file__)))
        if f.startswith("BENCH_r") and f.endswith(".json")
    )
    # Walk backwards to the newest file with a USABLE record: a guard-tripped
    # round leaves {"rc": 2, "parsed": null} — skip those rather than crash
    # (round-4 postmortem: prev["parsed"] -> None -> .get() AttributeError).
    for prev_file in reversed(prev_files):
        try:
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), prev_file)) as fh:
                prev = json.load(fh)
            if "parsed" in prev:  # driver wraps the bench line under "parsed"
                prev = prev.get("parsed") or prev
            if not isinstance(prev, dict) or not prev.get("queries"):
                continue
            # Normalize prev timings by relative machine speed when the prev
            # record carries a calibration time; clamp so a bogus calib can't
            # silence a real regression entirely.
            prev_calib = prev.get("calib_sec")
            speed = 1.0
            if isinstance(prev_calib, (int, float)) and prev_calib > 0:
                speed = max(0.5, min(3.0, calib / prev_calib))
            regressions = {
                n: {
                    "prev": p,
                    "prev_norm": round(p * speed, 4),
                    "now": timings[n],
                    "ratio": round(timings[n] / (p * speed), 2),
                }
                for n, p in prev.get("queries", {}).items()
                if n in timings and p > 0 and timings[n] / (p * speed) > 1.5
            }
            out["vs_prev"] = {
                "file": prev_file,
                "prev_total": prev.get("value"),
                "prev_total_norm": round((prev.get("value") or 0) * speed, 4),
                "speed_factor": round(speed, 3),
                "regressions": regressions,
            }
            break
        except (OSError, ValueError, KeyError, AttributeError, TypeError):
            continue
    print(json.dumps(out))

    # Guard: fail (exit 2) when the headline total regresses >30% vs the
    # last recorded round or any substantial query (>0.5s before) slowed
    # >2x — thresholds sit above the observed ~20% run-to-run machine
    # variance at sf0.1, so only real plan regressions trip.
    # SPARK_GRAFT_BENCH_NO_GUARD=1 reports without enforcing.
    if not os.environ.get("SPARK_GRAFT_BENCH_NO_GUARD"):
        vs = out.get("vs_prev") or {}
        prev_total = vs.get("prev_total_norm") or vs.get("prev_total")
        bad_total = bool(prev_total) and out["value"] > 1.30 * prev_total
        bad_queries = {
            n: r
            for n, r in (vs.get("regressions") or {}).items()
            if r["prev"] >= 0.5 and r["ratio"] > 2.0
        }
        if bad_total or bad_queries:
            import sys

            print(
                f"BENCH GUARD: total {out['value']} vs prev {prev_total}; "
                f"regressions: {bad_queries}",
                file=sys.stderr,
            )
            raise SystemExit(2)


if __name__ == "__main__":
    main()
