#!/usr/bin/env python
"""Benchmark harness: catalog queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

One process, one Spark session, these blocks in order:

1. warm-up, then the headline block: 5 reps per query;
2. the QPS harness (concurrent API queriers);
3. the secondary block, the iterative block and the ingest bench.

Each query's plan is warmed once at sf0.001 right before its own reps.
Every warm and every rep runs in its own pin scope: it rebuilds the
builder's pins and releases them after its timer stops.  Each query is
forced end-to-end with a noop-format write (full computation, no driver
collect overhead); construction stays outside the timer except in the
iterative block, whose kernels materialize inside ``fn()``.
``$SPARK_GRAFT_BENCH_BUDGET`` (seconds, default 3600) bounds the run:
the headline block always completes, and a later block that does not
fit is skipped and named in ``budget_skipped``.

Prints a ``{"detail": ...}`` line, then ONE final JSON line (the last
stdout line):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
``value`` is the sum of per-query best-of-first-2; medians, mins and
per-query spreads sit beside it.  The harness reads no history: a claim
is judged by an interleaved A/B of two commits, not by this line alone.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: plan warm-ups run on the sf0.001 set beside SF_DIR (SF_DIR itself
#: when there is none)
WARM_SF_DIR = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)),
                           "sf0.001")
if not os.path.isdir(WARM_SF_DIR):
    WARM_SF_DIR = SF_DIR
BENCH_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "3600"))
_T0 = time.monotonic()
#: the driver tail-captures 2000 chars of output
LINE_MAX = 1800


def _remaining() -> float:
    """Seconds left before the run-wide deadline."""
    return BENCH_BUDGET - (time.monotonic() - _T0)


def _log(msg: str) -> None:
    """Phase log on stderr, so a killed run shows which phase it was in."""
    print(f"[bench +{time.monotonic() - _T0:.0f}s] {msg}",
          file=sys.stderr, flush=True)


#: Most recent final line + detail doc, refreshed after every block so a
#: killed run still ships its progress.
_EMIT: dict = {"line": None, "detail": None}
_DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")
#: query -> error text, for queries whose reps raised
_ERRORS: dict[str, str] = {}


def _flush_state() -> None:
    """Persist the current detail doc."""
    if _EMIT["detail"] is not None:
        try:
            with open(_DETAIL_PATH, "w") as fh:
                json.dump(_EMIT["detail"], fh)
        except OSError:
            pass


def _on_signal(signum, frame) -> None:
    """Last-gasp emitter: flush, re-print the freshest final line so the
    tail capture parses even on a timeout kill, exit 128+signum."""
    signal.signal(signal.SIGTERM, signal.SIG_DFL)
    signal.signal(signal.SIGINT, signal.SIG_DFL)
    try:
        sys.stdout.flush()
    except Exception:  # re-entrant flush from inside a print
        pass
    _flush_state()
    if _EMIT["line"]:
        try:
            os.write(1, ("\n" + _EMIT["line"] + "\n").encode())
        except OSError:
            pass
    os._exit(128 + signum)


# The bench session is one long heavy local[N] JVM that needs a big heap
# (8g GC-thrashed once shuffle/broadcast state accumulated); this is
# bench tuning, not the library default, which stays small.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
# No \r-progress bars: the driver tail-captures output.
os.environ.setdefault("SPARK_GRAFT_CONSOLE_PROGRESS", "false")

#: headline set: TSDB hot paths + relational joins + pre-agg routing, the
#: PromQL-string path, a bounded /query_range scan and the LLM-data
#: pipeline operators
BENCH_QUERIES = [
    "ts_rate", "ts_instant_selector", "ts_downsample_5m", "ts_agg_sum_by",
    "ts_topk", "ts_quantile_over_time", "ts_preagg_route_rate",
    "ts_stitch_preagg_raw", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
    "promql_rate_sum", "api_bounded_scan", "doc_exact_dedup",
    "doc_minhash_lsh_pairs", "doc_simhash", "emb_cosine_knn", "emb_ann_ivf",
]

#: iterative kernels (LSH candidates + pointer-jumping CC, PageRank, power
#: iteration) materialize their passes eagerly inside fn(), so the timer
#: brackets construction too; tracked outside the headline total
ITERATIVE_QUERIES = [
    "doc_dedup_clusters", "emb_semantic_dedup", "doc_dedup_savings",
    "mm_audio_dedup_clusters", "doc_pagerank", "emb_top_pc",
]

#: every other operator family, tracked outside the headline total so
#: the headline stays comparable across commits; an operator outside the
#: bench has no perf record when it regresses
SECONDARY_QUERIES = [
    "ev_sessionize", "ev_asof_join", "ev_hopping_counts", "doc_dup_spans",
    "doc_winnowing", "emb_scalar_quantize", "emb_pq_codes",
    "emb_diversity_sample", "mm_video_neardup", "doc_chunk_sliding",
    "doc_novelty", "doc_quality_logreg", "emb_matryoshka_recall",
    "ev_anomaly_mad", "emb_ann_ivfpq", "doc_segment_dedup",
    "emb_range_search", "emb_mmr_rerank", "doc_dsir_weights",
    "ev_hll_distinct", "doc_cm_heavyhitters", "doc_curation_verdict",
    "ev_attribution", "emb_ann_ivfpq_refine", "doc_segment_dedup_hashkey",
    "doc_cdc_chunks", "emb_binary_hamming", "ev_rfm_segments",
    "doc_cdc_chunks_fast", "ev_hll_rollup", "ev_sample_quantiles",
    "doc_domain_cap", "ev_hll_setops", "doc_canonical_dedup",
    "ev_decayed_counts", "doc_vocab_coverage", "doc_bm25_topk",
    "mm_audio_matches", "doc_cluster_split", "emb_threshold_sweep",
    "ev_hll_sliding", "ev_peak_concurrency", "mm_audio_align",
    "doc_token_pmi", "doc_source_overlap", "doc_source_minhash_sim",
    "doc_simhash_neardup", "doc_simhash_accuracy", "ev_bot_cadence",
    "ev_key_skew", "doc_ccnet_buckets", "emb_ivf_cell_balance",
    "ev_funnel_timing", "ev_stickiness", "doc_length_quantiles", "emb_qc",
    "doc_dup_source_attribution", "ev_anomaly_seasonal",
    "doc_boilerplate_prefixes", "doc_corpus_growth",
    "ev_session_duration_stats", "doc_source_sketch_accuracy",
    "emb_ivf_nprobe_sweep", "ev_user_concentration", "ev_interarrival",
    "emb_dim_variance", "emb_pq_distortion", "doc_lsh_s_curve",
    "doc_source_drift", "doc_minhash_k_sweep", "doc_packing_efficiency",
    "doc_lang_confusion", "ev_funnel_windowed", "doc_repetition_profile",
    "doc_tokenizer_fertility", "doc_minhash_containment",
    "emb_centroid_drift", "ev_powerlaw_fit", "ev_survival_curve",
    "ev_transition_entropy", "doc_split_leakage_rate", "ev_ab_test",
    "ev_cohort_ltv", "ev_cusum_changepoint", "ev_benford",
    "ev_lag_autocorr", "emb_hubness", "emb_intrinsic_dim",
    "doc_dedup_threshold_sweep", "doc_lexical_diversity", "emb_kmeans_elbow",
    "doc_term_burstiness", "mm_keyframe_select", "ev_user_cap_sweep",
    "ev_ab_cuped", "ev_poisson_dispersion", "doc_kn_logprob",
    "doc_ngram_entropy_rate", "doc_shard_balance", "doc_cluster_size_dist",
    "emb_knn_reciprocity", "emb_ood_mahalanobis", "promql_at_subquery",
    "doc_oph_minhash", "emb_effective_rank", "ev_power_mde",
    "ev_diff_in_diff", "mm_phash_dct",
]

#: Seconds a block must leave for the blocks after it: the secondary and
#: iterative blocks stop between queries below their reserve; the rest
#: start only with more than this left.
QPS_RESERVE = 360.0
SECONDARY_RESERVE = 360.0
ITERATIVE_START, ITERATIVE_RESERVE = 420.0, 240.0
INGEST_RESERVE = 300.0


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _buff_cache_gb() -> float | None:
    """OS page-cache size (Buffers+Cached), so per-query outliers can be
    traced to cache reclaim instead of guessed."""
    try:
        kv = {}
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                kv[k] = int(v.strip().split()[0])  # kB
        return round((kv["Buffers"] + kv["Cached"]) / 1_048_576, 2)
    except Exception:
        return None


def ingest_bench(spark) -> dict:
    """Write-path throughput: the reference's remote-storage-bench default
    shape (BASELINE.md:38 — 10 tenants x 10 agents x 20 metrics @ 10 s,
    ~2 000 series). One prompb+snappy WriteRequest per (tenant, agent)
    carrying 300 scrape intervals (600 k samples total — enough that the
    parquet commit's fixed cost stops dominating); the timed section is
    the full ingest program — executor-side wire decode (mapInPandas
    codec), A2/A3 validation, and the date-partitioned parquet sink
    layout.
    """
    import tempfile

    from squirreldb_spark import codec
    from squirreldb_spark.streaming.ingest import (
        decode_write_stream,
        validate_map,
        write_points,
    )

    bodies = []
    n_samples = 0
    for t in range(10):
        for a in range(10):
            series = []
            for m in range(20):
                series.append(codec.TimeSeries(
                    labels={
                        "__name__": f"metric_{m}",
                        "agent": f"agent_{a}",
                        "__account_id": f"tenant_{t}",
                    },
                    samples=[
                        codec.Sample(float(m + k), 1_700_000_000_000 + k * 10_000)
                        for k in range(300)
                    ],
                ))
                n_samples += 300
            bodies.append((codec.encode_remote_write_body(series),))
    payloads = spark.createDataFrame(bodies, "body binary").repartition(32)

    def write(path: str) -> None:
        write_points(validate_map(decode_write_stream(payloads), tenant="bench"),
                     path)

    with tempfile.TemporaryDirectory() as tmp:
        # One untimed run first: Python-worker spin-up for the mapInPandas
        # codec takes 2-3 full batches to amortize, and a long-lived
        # ingest service pays it once per executor.
        write(f"{tmp}/warmup")
        # four timed runs; the best is the record, and the full list +
        # spread make run-to-run noise attributable
        runs: list[float] = []
        for i in range(4):
            t0 = time.perf_counter()
            write(f"{tmp}/points{i}")
            runs.append(time.perf_counter() - t0)
    sec = min(runs)
    return {
        "samples": n_samples,
        "sec": round(sec, 3),
        "samples_per_s": round(n_samples / sec),
        "runs_sec": [round(s, 3) for s in runs],
        "rel_spread": round((max(runs) - min(runs)) / _median(runs), 3),
    }


def _warm(spark, CATALOG) -> None:
    """JVM + OS page-cache warm-up.

    JVM: run the two dominant plan shapes (windowed range-agg, exact
    percentile) against the tiny sf0.001 data — production query services
    are warm; cold-start JIT is not the thing this benchmark tracks.
    Page cache: cold parquet IO inflated the first query in the list (up
    to 1.9x); a production cluster reads hot storage.
    """
    import glob

    for warm in ("ts_rate", "ts_quantile_over_time"):
        CATALOG[warm].fn(spark, WARM_SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
    for f in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        if not os.path.isfile(f):
            continue  # directory-style parquet datasets
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass


def _run_once(spark, CATALOG, name: str, sf_dir: str, full: bool) -> float:
    """One noop write of ``name`` at ``sf_dir`` inside its own pin scope;
    returns its seconds.  The timer stops before the scope releases the
    builder's pins, so every rep rebuilds them and none is timed."""
    from squirreldb_spark.pipeline._pins import pin_scope

    with pin_scope():
        t0 = time.perf_counter()
        df = CATALOG[name].fn(spark, sf_dir)
        if not full:
            t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def _time_reps(
    spark, CATALOG, names: list[str], reps: int,
    full: bool = False,
    reserve: float | None = None,
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Time ``reps`` noop writes per query, each right after one untimed
    warm of the same plan at sf0.001 (a first rep otherwise pays a
    1.5-3x compilation/codegen premium; a query service is plan-warm).
    Returns (best of the first two reps, every sample): a single sample
    conflates GC pauses and stage-scheduling jitter with plan cost, and
    the full list lets median/min/spread be read against the query's own
    variance.

    ``full`` brackets construction too.  ``reserve`` stops the block
    before a query's warm once fewer seconds than that are left (the
    headline passes None: it must complete).  A query that raises is
    logged, kept in ``_ERRORS`` and left out of the result."""
    best: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        if reserve is not None and _remaining() < reserve:
            _log(f"budget: truncating block before {name!r} "
                 f"({_remaining():.0f}s left, reserve {reserve:.0f}s)")
            break
        try:
            _run_once(spark, CATALOG, name, WARM_SF_DIR, full)
            runs = [_run_once(spark, CATALOG, name, SF_DIR, full)
                    for _ in range(reps)]
        except Exception as exc:
            _log(f"{name} failed: {exc!r:.300}")
            _ERRORS[name] = f"{exc!r:.200}"
        else:
            best[name] = round(min(runs[:2]), 3)
            samples[name] = [round(s, 3) for s in runs]
    return best, samples


def _stats(samples: dict[str, list[float]]) -> tuple[dict, dict]:
    med = {n: round(_median(s), 3) for n, s in samples.items()}
    spread = {
        n: round((max(s) - min(s)) / max(_median(s), 1e-9), 3)
        for n, s in samples.items()
    }
    return med, spread


def qps_bench(spark, CATALOG) -> dict:
    """Concurrent-querier throughput, mirroring the reference's second
    bench harness (tests/squirreldb-promql-bench/main.go:159-174: an
    instant query and an optional 1 h query_range, 10 parallel queriers,
    10 s run — the reference publishes the harness, not numbers).  Each
    worker loops the full API path (parse → plan → execute, a fresh
    DataFrame per request, like a real request handler); Spark schedules
    the concurrent jobs across the local[N] cores.  It runs right after
    the headline block: at the end of a long process it under-read."""
    import concurrent.futures

    out = {}
    for label, name in (("instant", "api_instant_query"),
                        ("range_1h", "api_query_range")):
        CATALOG[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()  # warm the plan
        t0 = time.perf_counter()
        stop = t0 + 10.0

        def worker(_):
            n = 0
            while time.perf_counter() < stop:
                CATALOG[name].fn(spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                n += 1
            return n

        with concurrent.futures.ThreadPoolExecutor(max_workers=10) as ex:
            counts = list(ex.map(worker, range(10)))
        dur = time.perf_counter() - t0
        out[label] = {
            "queries": sum(counts),
            "duration_sec": round(dur, 2),
            "qps": round(sum(counts) / dur, 1),
        }
    return out


def _compose_line(timings, t_median, t_min, ingest, qps, sf,
                  skipped: list[str], failed: bool = False) -> str:
    """The compact one-line record the driver parses; detail lives in
    bench_detail.json and the preceding {"detail": ...} line.

    A headline block with no timings, or with a query that failed, has
    no total: ``value`` is null and ``headline_failed`` is true.  A line
    of ``LINE_MAX`` chars or more is trimmed, loudly, until it fits:
    ingest detail first, then ``qps``, then ``value_min`` and
    ``value_median``, then the tail of ``queries`` (the key survives)."""
    failed = failed or not timings

    def total(d: dict) -> float | None:
        return None if failed else round(sum(d.values()), 3)

    out = {
        "metric": "headline_queries_total_wall",
        "value": total(timings),
        "value_median": total(t_median),
        "value_min": total(t_min),
        "unit": "sec",
        "queries": timings,
        "ingest": ingest,
        "qps": {k: v["qps"] for k, v in qps.items()},
        "sf": sf,
    }
    if failed:
        out["headline_failed"] = True
    if skipped:
        out["budget_skipped"] = skipped
    trims = [
        lambda: out.update(ingest={k: v for k, v in ingest.items()
                                   if k == "samples_per_s"}),
        lambda: out.pop("qps"),
        lambda: (out.pop("value_min"), out.pop("value_median")),
    ]
    line = json.dumps(out)
    if len(line) >= LINE_MAX:
        _log(f"WARNING: final line {len(line)} chars >= {LINE_MAX}; trimming")
    while len(line) >= LINE_MAX and (trims or len(out["queries"]) > 1):
        if trims:
            trims.pop(0)()
        else:
            out["queries"] = dict(list(out["queries"].items())[:-1])
            out["queries_trimmed"] = len(timings) - len(out["queries"])
        line = json.dumps(out)
    return line


def main() -> None:
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    _log(f"budget {BENCH_BUDGET:.0f}s at {SF_DIR}")

    sf_raw = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf_raw)
    except ValueError:
        sf = None  # non-sfN directory name: still print the timings
    skipped: list[str] = []
    ingest: dict = {}
    qps: dict = {}

    from squirreldb_spark.queries import CATALOG
    from squirreldb_spark.session import get_session

    spark = get_session("squirreldb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    detail: dict = {"buff_cache_gb_cold": _buff_cache_gb(), "errors": _ERRORS}
    _EMIT["detail"] = detail

    _log("headline block")
    _warm(spark, CATALOG)
    detail["buff_cache_gb_pre"] = _buff_cache_gb()
    timings, t_samples = _time_reps(spark, CATALOG, BENCH_QUERIES, reps=5)
    t_median, t_spread = _stats(t_samples)
    t_min = {n: min(s) for n, s in t_samples.items()}
    failed = any(n in _ERRORS for n in BENCH_QUERIES)
    detail.update({
        "queries_median": t_median,
        "queries_min": t_min,
        "queries_samples": t_samples,
        "queries_rel_spread": t_spread,
    })

    def refresh() -> str:
        line = _compose_line(timings, t_median, t_min, ingest, qps, sf,
                             skipped, failed)
        _EMIT["line"] = line
        _flush_state()
        return line

    # the headline line prints the moment it exists; the enriched copy
    # re-prints as the last line, or from the signal handler on a kill
    print(refresh(), flush=True)
    _log(f"headline done: total {sum(timings.values()):.2f}s "
         f"({len(timings)} queries)")

    if _remaining() > QPS_RESERVE:
        _log("qps block")
        qps = qps_bench(spark, CATALOG)
        detail["qps_detail"] = qps
    else:
        skipped.append("qps")
    refresh()

    def block(key: str, names: list[str], reps: int, reserve: float,
              full: bool = False) -> None:
        best, samples = _time_reps(spark, CATALOG, names, reps, full=full,
                                   reserve=reserve)
        med, spread = _stats(samples)
        missing = [n for n in names if n not in samples and n not in _ERRORS]
        if missing:
            skipped.append(f"{key}:{len(missing)}")
            detail[f"{key}_budget_truncated"] = missing
        detail.update({key: best, f"{key}_median": med,
                       f"{key}_samples": samples,
                       f"{key}_rel_spread": spread})
        refresh()

    _log("secondary block")
    block("secondary", SECONDARY_QUERIES, 3, SECONDARY_RESERVE)
    if _remaining() > ITERATIVE_START:
        _log("iterative block")
        block("iterative", ITERATIVE_QUERIES, 3, ITERATIVE_RESERVE, full=True)
    else:
        skipped.append("iterative")
        detail["iterative_median"] = {}  # tools/update_bench_history.py
    if _remaining() > INGEST_RESERVE:
        _log("ingest block")
        ingest = ingest_bench(spark)
        detail["ingest_runs_sec"] = ingest.pop("runs_sec")
        detail["ingest_rel_spread"] = ingest.pop("rel_spread")
    else:
        skipped.append("ingest")
        ingest = {"skipped": "budget"}
    detail["buff_cache_gb_post"] = _buff_cache_gb()
    line = refresh()
    _log(f"done with {_remaining():.0f}s to spare"
         + (f"; budget-skipped: {skipped}" if skipped else ""))
    print(json.dumps({"detail": detail}))
    print(line, flush=True)


if __name__ == "__main__":
    main()
