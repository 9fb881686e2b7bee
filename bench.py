"""Benchmark harness (driver contract): runs every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is forced end-to-end with a noop-format write (full execution,
no driver collect — the honest way to time a distributed plan).

Besides wall time, the suite records per-query SHUFFLE BYTES (r5 verdict
item 2): this sandbox disperses wall ~40% run-to-run (5x on single
queries — SCALE_NOTES), so a uniform wall shift is unattributable from
wall alone; bytes are near-deterministic for a fixed plan + data — NOT
perfectly so: AQE may reuse a still-materialized shuffle stage across
identical subtrees on some runs and resubmit it on others, and listener-
bus lag past the end-of-suite settle can drop the tail query's last
stages, so attributed bytes can under-report run-to-run. Compare suite
totals and treat small per-query byte deltas as attribution noise, the
same discipline as wall. Rather than
sleeping out the async listener bus after every query (3 s x 231 queries
of dead time), the suite keeps a per-query [start, end) wall window and
attributes stages to queries by stage submission time from ONE UI REST
fetch at the end — queries run strictly sequentially here, so the window
containing a stage's submission is the query that ran it.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    QUERIES,
    REGISTRY,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.session import get_spark


def _fetch_stages(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        return json.load(r)


def _stage_epoch(ts: str) -> float:
    # REST submissionTime looks like "2026-08-15T02:13:45.123GMT"
    return (
        datetime.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def _attribute_shuffle(
    stages: list[dict], windows: list[tuple[str, float, float]]
) -> tuple[dict[str, float], dict[str, float]]:
    """Sum shuffle write/read MB per query window by stage submission time."""
    wr = {name: 0.0 for name, _, _ in windows}
    rd = {name: 0.0 for name, _, _ in windows}
    for s in stages:
        sub = s.get("submissionTime")
        if not sub:
            continue
        t = _stage_epoch(sub)
        for name, t0, t1 in windows:
            if t0 <= t < t1:
                wr[name] += s.get("shuffleWriteBytes", 0)
                rd[name] += s.get("shuffleReadBytes", 0)
                break
    return (
        {n: round(v / 1e6, 2) for n, v in wr.items()},
        {n: round(v / 1e6, 2) for n, v in rd.items()},
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # the engine session disables the UI (pure overhead in production);
    # the bench IS the telemetry consumer, so turn the status store on and
    # size stage retention past the suite's stage count (231 queries x a
    # handful of stages — the default 1000 evicts the early queries' rows)
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # plans, not session startup
    QUERIES["q01_avg_price_by_dow"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    per_query: dict[str, float] = {}
    # index-build walls live in their OWN dict (r8 advice): they are
    # lifecycle/build rows, not registry queries — mixing them into
    # per_query shifted n_queries/slowest5 vs pre-r8 summaries and broke
    # tooling that assumes per_query keys are registry names. Their
    # shuffle-byte attribution keeps the index_build_* keys (the bytes
    # dicts are window-attributed telemetry, not a registry listing).
    index_builds: dict[str, float] = {}
    windows: list[tuple[str, float, float]] = []
    t_suite = time.time()

    # Force the shared dedup-index builds as NAMED bench entries (r7
    # verdict item 4): the memoized index made the FIRST consumer in
    # bench order absorb the whole build (q105 wall 5.9->8.3 s in r7),
    # so standalone consumer walls stopped meaning anything. Building
    # here attributes the build's wall AND bytes to its own rows; every
    # index consumer below is then measured warm — its wall is the
    # read-path cost a deployment with a maintained index would pay.
    # Order matters: cc reads pairs_ppjoin warm, so its row is the CC
    # iteration alone.
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans import (
        dedup_index,
        extensions,
    )

    for bname, build in (
        ("index_build_ppjoin", dedup_index.dup_pairs),
        ("index_build_cc", dedup_index.dup_components),
        ("index_build_lsh", dedup_index.dup_pairs_lsh),
        # the maintained corpus-side signature table (q245's artifact as
        # the r9 default cross-candidate source) — forced here so q103
        # measures the warm read path a deployment pays per batch
        ("index_build_sigs", dedup_index.corpus_signatures),
        # the maintained probe-score artifact (r13): the q145 fit+score
        # relation seven evaluation heads read — forced here for the same
        # first-consumer-absorbs-the-build reason as the dedup indexes
        # (r7 verdict item 4); entries only ever ADDED, never renamed
        ("index_build_probe_scores", extensions.probe_scored),
    ):
        t0 = time.time()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        index_builds[bname] = round(t1 - t0, 3)
        windows.append((bname, t0, t1))

    for name, fn in sorted(QUERIES.items()):
        if REGISTRY[name].fixture:
            # superseded fold kept only as its kernel twin's row-equality
            # evidence (pytest) — the kernel is in the suite; timing the
            # fold re-measures a path nothing deploys (r5 verdict item 6)
            continue
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        per_query[name] = round(t1 - t0, 3)
        windows.append((name, t0, t1))
    total = round(time.time() - t_suite, 3)

    # one REST read for the whole suite; the async listener bus needs a
    # beat to drain the last query's stages (SCALE_NOTES: a 3-Exchange
    # plan read too early reported 0 bytes). Poll until the stage count
    # stabilizes instead of trusting one fixed sleep (r6 advice): two
    # consecutive identical counts, capped at ~15 s.
    shuffle_write_mb: dict[str, float] = {}
    shuffle_read_mb: dict[str, float] = {}
    try:
        stages = _fetch_stages(spark)
        for _ in range(5):
            time.sleep(3)
            again = _fetch_stages(spark)
            if len(again) == len(stages):
                stages = again
                break
            stages = again
        shuffle_write_mb, shuffle_read_mb = _attribute_shuffle(stages, windows)
    except Exception as e:  # noqa: BLE001 — byte telemetry must never fail the bench
        print(f"shuffle-byte capture skipped: {e}", file=sys.stderr)

    slowest5 = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:5])
    # Key ORDER is load-bearing. The driver's BENCH_r*.json records only
    # the LAST ~4 KB of stdout ("tail") when the line exceeds its capture
    # window — r6's graded tail landed inside shuffle_read_mb (appended
    # last that round) and its MB values were misread as wall seconds
    # (the "q53 25.97 s outlier" was its 25.97 MB shuffle read; 31
    # "0.00 s" rows were ~0-shuffle queries — SCALE_NOTES r7). So: bulky
    # byte dicts FIRST (pruned of exact-zero rows — full dicts live in
    # BENCH_SUMMARY.json), per-query WALLS next, and the small summary
    # scalars LAST so any tail capture always ends with walls + totals,
    # which are self-describingly seconds.
    payload = {
        "shuffle_write_mb": {k: v for k, v in shuffle_write_mb.items() if v > 0},
        "shuffle_read_mb": {k: v for k, v in shuffle_read_mb.items() if v > 0},
        "queries": per_query,
        "index_builds": index_builds,
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per_query),
        "suite_shuffle_write_mb": round(sum(shuffle_write_mb.values()), 1),
        "suite_shuffle_read_mb": round(sum(shuffle_read_mb.values()), 1),
        "slowest5": slowest5,
    }
    print(json.dumps(payload))
    # Compact PER-QUERY line (r12 verdict item 3): the driver's
    # BENCH_r*.json keeps only the last ~4 KB of stdout, so the full
    # "queries" map above (full names, ~8 KB) never fits the tail and
    # round-over-round / cores-scaling comparison lost its per-query
    # data (PERF_r12 n_common=0, scaling.per_query empty). This line
    # carries every wall with SHORT keys (the qNN prefix, which the
    # registry keeps unique) at 2 dp plus the cpu
    # count, compact separators: ~3 KB for 262 entries, so the tail
    # always contains it whole. Purely additive — the full-name map and
    # the final summary line are unchanged.
    short = {k.split("_", 1)[0]: round(v, 2) for k, v in per_query.items()}
    print(
        json.dumps(
            {
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
                "sf": sf,
                "queries_2dp": short,
                "index_builds_2dp": {
                    k.removeprefix("index_build_"): round(v, 2)
                    for k, v in index_builds.items()
                },
            },
            separators=(",", ":"),
        )
    )
    # Final COMPACT one-line JSON (r8 verdict item 6): the driver's
    # BENCH_r*.json keeps only the LAST ~4 KB of stdout and its parse of
    # that tail landed `parsed: null` in r7/r8 because the tail starts
    # mid-way through the full line above. Printing a small self-contained
    # object LAST guarantees the tail always ends with a parseable line
    # carrying the suite totals.
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(per_query),
                "suite_shuffle_write_mb": round(sum(shuffle_write_mb.values()), 1),
                "suite_shuffle_read_mb": round(sum(shuffle_read_mb.values()), 1),
                "slowest5": slowest5,
                "index_builds": index_builds,
            }
        )
    )
    # restore full (unpruned) byte dicts + summary-first ordering for the
    # committed human-read artifacts
    payload = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per_query),
        "suite_shuffle_write_mb": round(sum(shuffle_write_mb.values()), 1),
        "suite_shuffle_read_mb": round(sum(shuffle_read_mb.values()), 1),
        "slowest5": slowest5,
        "index_builds": index_builds,
        "queries": per_query,
        "shuffle_write_mb": shuffle_write_mb,
        "shuffle_read_mb": shuffle_read_mb,
    }
    # the driver's BENCH_r*.json capture truncates before the q100+ tail
    # and leaves `parsed` null, so round-over-round comparison needs a
    # committed artifact: write the full payload (summary keys first,
    # per-query map included) for each round to commit (r3 verdict item 8)
    root = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(root, "BENCH_SUMMARY.json"), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=False)
        f.write("\n")
    # ALSO archive per round (r4 verdict item 8: r4's summary overwrote
    # r3's, losing the per-query deltas) — round = PREFIX_ROUND, the round
    # the committed gate schedule is frozen for. (r7 used
    # latest_gated_round()+1, which shifts mid-round the moment the driver
    # drops CORRECTNESS_r{N}.json on disk — that's how the r7 close run
    # landed in BENCH_SUMMARY_r8.json. PREFIX_ROUND is constant from
    # rotation to rotation, so _r{N} now always means "last full bench run
    # of round N"; earlier runs of the same round survive in git history.)
    # Only archive per-round at the driver's grading scale — quick sf0.001
    # iteration runs must not clobber the round's sf0.1 record.
    try:
        if sf < 0.1:
            raise ValueError(f"sf {sf} below archive scale; per-round archive skipped")
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
            PREFIX_ROUND,
        )

        rnd = PREFIX_ROUND
        with open(os.path.join(root, f"BENCH_SUMMARY_r{rnd}.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=False)
            f.write("\n")
    except Exception as e:  # noqa: BLE001 — archival must never fail the bench
        print(f"bench archive skipped: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
