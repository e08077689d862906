"""Benchmark harness: runs the catalog at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line per completed
phase — the LAST line printed is always the most complete artifact:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "probe": ..., "probe_pairs": ..., "probe_100x": ...,
 "truncated": [...], "sf": ...}

Each query is forced with a count() (no driver-side materialization of
full results — the metric is engine time, not toPandas transfer).

TIMEOUT-PROOF PROTOCOL (r12 verdict #1: BENCH_r12 died at rc=124 with
`parsed: null` — the single end-of-run JSON line lost EVERY number
already measured, and post-mortem stderr spam would have displaced it
from the driver's tail window anyway). Three defenses, layered:
  1. INCREMENTAL EMISSION — after every phase (and every 100x spot)
     the current snapshot line is printed to stdout (flushed) and the
     full-precision record is atomically rewritten to
     BENCH_PARTIAL.json, so a kill at ANY point leaves both a parseable
     tail and an on-disk artifact of everything measured so far.
  2. WALL BUDGET — $SPARK_GRAFT_BENCH_BUDGET_S (default 3000 s) gates
     every phase: when a tier would not fit, it is SKIPPED with a
     `"truncated": [...]` marker instead of running into the external
     timeout. The bench should never be the thing that hits rc=124.
  3. WATCHDOG + SIGTERM — a daemon thread force-emits the snapshot and
     exits 0 at budget + grace even if a Spark job hangs; `timeout`'s
     SIGTERM (sent before SIGKILL) triggers the same final emission.

Probe-set ROTATION (r12 verdict #3) cuts steady-state cost: see
scripts/scale_probe.probe_rotation — ALWAYS (spot-fit legs + watched
rows) + NEW (this round's changed ops) + a third of the rest per round.
"""

from __future__ import annotations

import glob
import json
import os
import re
import signal
import sys
import threading
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _round_no() -> int:
    """Next round number, derived from the committed driver artifacts
    (BENCH_r{N}.json) — keeps the probe rotation deterministic with no
    side-channel state."""
    rs = [int(m.group(1)) for p in glob.glob(
          os.path.join(HERE, "BENCH_r[0-9]*.json"))
          if (m := re.search(r"BENCH_r(\d+)\.json$", os.path.basename(p)))]
    return max(rs, default=0) + 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "3000"))
    t_start = time.monotonic()

    def elapsed() -> float:
        return time.monotonic() - t_start

    def remaining() -> float:
        return budget - elapsed()

    round_no = _round_no()

    # ---- shared snapshot state (everything any emission reads) -----
    st = {
        "per_query": {}, "total": 0.0,
        "probe_ratio": {}, "probe_ratio_dense": {}, "probe_spread": {},
        "probe_abs": {}, "probe_small": {}, "probe_pairs": {},
        "probe_100x": {}, "probe_bytes": {}, "truncated": [],
        # calib-normalized probe tier (r14 verdict #1): wall/calib per
        # adjacent sample for _CALIB_NORM members — the §6 criterion
        # numbers for knn_auto_route
        "probe_small_norm": {}, "probe_ratio_calib": {},
        "probe_spread_calib": {},
        # fixed pure-JVM calibration walls (r13 verdict #1): start /
        # pre-spot / end of run — cross-round host-weather normalizers
        "calib": {},
    }
    # RLock, not Lock: the SIGTERM handler runs IN the main thread — if
    # it lands while main is inside emit(), a plain Lock would deadlock
    # the handler on its own thread's lock (re-entry just prints twice)
    emit_lock = threading.RLock()

    def _t(v: float) -> float:
        return round(v, 2) if v < 10 else round(v, 1)

    def _render_stdout_line() -> str:
        """ONE JSON line <= 1900 chars (the driver parses only the last
        ~2000 chars of the combined tail). PURE — trims work on local
        copies, so repeated per-phase emission never degrades state.
        Trim tiers, in order: per-query rounding (2, then 1 dp) ->
        stable subset of the 10 slowest queries -> probe rounding
        (spread, absolute walls and the total) -> drop 10x-probe rows
        fastest-large-side-first -> probe_100x collapse to wall-only ->
        pop per-query entries fastest-first as the last resort. The
        full record lives in BENCH_PARTIAL.json and on stderr;
        probe_pairs, spot_fit and probe_calib are never dropped."""
        total = round(st["total"], 4)
        probe = {}
        for n, ab in st["probe_abs"].items():
            base = n.split("@")[0]
            r = (st["probe_ratio_dense"].get(base) if n.endswith("@dense")
                 else st["probe_ratio"].get(base))
            probe[n] = [r, st["probe_spread"].get(n),
                        _t(ab[0]), _t(ab[1])]
        probe_100x = {n: (list(v) if isinstance(v, list) else v)
                      for n, v in st["probe_100x"].items()}
        trunc = list(st["truncated"])

        def _line(q: dict) -> str:
            d = {
                "metric": "catalog_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": q,
                # {query: [ratio_10x, spread, t_small, t_large]}
                "probe": probe,
                # [cand_slots, cand_distinct, max_bucket, dropped,
                #  collapsed, n_mined] per corpus
                "probe_pairs": st["probe_pairs"],
                "probe_100x": probe_100x,
                # same-JVM 1x/10x legs for the fit-watched spots
                "spot_fit": st.get("spot_fit", {}),
                # {phase: wall} for the FIXED pure-JVM no-shuffle job —
                # divide any wall by calib/its round-N counterpart to
                # normalize cross-round host weather (r13 verdict #1)
                "calib": st["calib"],
                # {query: [calib-normalized ratio, normalized spread]}
                # — the §6 criterion numbers for _CALIB_NORM members
                "probe_calib": {
                    n: [st["probe_ratio_calib"][n],
                        st["probe_spread_calib"].get(n)]
                    for n in st["probe_ratio_calib"]},
                "sf": sf,
                "n_queries": len(st["per_query"]),
            }
            if st.get("forced_exit"):
                d["forced_exit"] = st["forced_exit"]
            if trunc:
                d["truncated"] = trunc
            return json.dumps(d, separators=(",", ":"))

        cap = 1900
        compact = {}
        for nd in (2, 1):
            compact = {k: round(v, nd) for k, v in st["per_query"].items()}
            if len(_line(compact)) <= cap:
                break
        if len(_line(compact)) > cap:
            # r16 (r15 verdict #5): when the full per-query dict cannot
            # fit, jump straight to a STABLE subset — the 10 slowest by
            # name at 1 decimal — instead of popping fastest-first to
            # whatever happens to fit. A fast catalog previously left
            # ≤3 surviving keys chosen by that round's noise, so
            # consecutive rounds shared almost no names and the
            # driver's round-over-round per-query comparison
            # degenerated to one query. Ten 1-dp entries ≈ 220 chars —
            # they fit unless the probe payload is oversized, in which
            # case the fastest-first pop below still applies. Timing
            # methodology and the full-precision records
            # (BENCH_PARTIAL.json / stderr) are untouched.
            top = sorted(st["per_query"], key=st["per_query"].get,
                         reverse=True)[:10]
            compact = {k: round(st["per_query"][k], 1) for k in top}
        # r16: the probe-DETAIL trim tiers run BEFORE the per-query
        # pops. The full-probe payload grew past the point where the
        # stable top-10 fits (measured: a complete r16 probe run left
        # 34 chars of slack and popped all ten entries — the driver's
        # tail parser would have seen an EMPTY queries dict, zero
        # shared keys round-over-round, which is exactly what the
        # top-10 subset exists to prevent). The top-10 is the ONLY
        # per-query evidence in the line, so it now outlives 10x-probe
        # detail; full precision for everything trimmed here still
        # lands in BENCH_PARTIAL.json and the stderr record. Tier
        # order: probe value rounding -> drop 10x rows fastest-large-
        # side-first (the graded spots have the largest large sides,
        # so rotation rows on fast queries go first; probe_pairs,
        # spot_fit and probe_calib — the graded criteria — are never
        # dropped) -> probe_100x collapse to wall-only (kept FULL
        # ahead of 10x detail: the per-spot bytes/tasks are the 100 TB
        # story) -> pop queries fastest-first as the very last resort.
        if len(_line(compact)) > cap:
            for n, v in probe.items():
                v[1] = round(v[1], 1) if v[1] is not None else None
                v[2] = round(v[2], 1)
                v[3] = round(v[3], 1)
            total = round(total, 1)
        while len(_line(compact)) > cap and probe:
            probe.pop(min(probe, key=lambda n: probe[n][3] or 0))
        if len(_line(compact)) > cap:
            for n, v in list(probe_100x.items()):
                if isinstance(v, list):
                    probe_100x[n] = v[0]
        while len(_line(compact)) > cap and compact:
            compact.pop(min(compact, key=lambda k: compact[k]))
        return _line(compact)

    def _full_record() -> dict:
        return {
            "metric": "catalog_total_runtime",
            "value": round(st["total"], 4),
            "unit": "sec",
            "queries": st["per_query"],
            "probe_ratio_10x": st["probe_ratio"],
            "probe_ratio_10x_dense": st["probe_ratio_dense"],
            "probe_spread": st["probe_spread"],
            "probe_abs": st["probe_abs"],
            "probe_pairs": st["probe_pairs"],
            "probe_100x": st["probe_100x"],
            "spot_fit": st.get("spot_fit", {}),
            "probe_bytes": st["probe_bytes"],
            "probe_ratio_calib": st["probe_ratio_calib"],
            "probe_spread_calib": st["probe_spread_calib"],
            "probe_small_norm": st["probe_small_norm"],
            "calib": st["calib"],
            "truncated": st["truncated"],
            "probe_rotation_round": round_no,
            "budget_s": budget,
            "elapsed_s": round(elapsed(), 1),
            "sf": sf,
            **({"forced_exit": st["forced_exit"]}
               if st.get("forced_exit") else {}),
        }

    def emit(tag: str) -> None:
        """Print the current snapshot line to stdout (flushed — a
        SIGKILL must not lose a buffered artifact) and atomically
        rewrite the on-disk partial record."""
        with emit_lock:
            line = _render_stdout_line()
            print(line, flush=True)
            print(f"bench snapshot [{tag}] at {elapsed():.0f}s: "
                  f"{len(line)} chars", file=sys.stderr, flush=True)
            try:
                tmp = os.path.join(HERE, ".BENCH_PARTIAL.tmp")
                with open(tmp, "w") as f:
                    json.dump(_full_record(), f)
                os.replace(tmp, os.path.join(HERE, "BENCH_PARTIAL.json"))
            except OSError as ex:  # pragma: no cover
                print(f"partial-artifact write failed: {ex}",
                      file=sys.stderr)

    finished = threading.Event()

    def _force_exit(tag: str) -> None:
        # rc stays 0 by the timeout-proof protocol (a nonzero rc makes
        # the driver discard the artifact), but the record itself says
        # it was forced (r13 ADVICE: machine-distinguishable from a
        # clean finish, which never sets this field)
        st["forced_exit"] = tag
        st["truncated"].append(tag)
        # the watchdog leg races the main thread's lock-free st writes
        # (emit iterates the dicts): a concurrent insert can raise
        # RuntimeError mid-render. One retry after the write settles,
        # and the exit itself must NEVER be lost — losing it re-creates
        # the external rc=124 this thread exists to prevent.
        try:
            emit(tag)
        except Exception:
            try:
                time.sleep(0.5)
                emit(tag)
            except Exception:  # pragma: no cover
                pass
        os._exit(0)

    def _watchdog() -> None:  # pragma: no cover - timing path
        while not finished.wait(5.0):
            if elapsed() > budget + 60:
                _force_exit("watchdog_force_exit")

    threading.Thread(target=_watchdog, daemon=True).start()
    signal.signal(signal.SIGTERM,
                  lambda *_: _force_exit("sigterm"))

    from polars_ds_extension_spark.session import get_spark
    from polars_ds_extension_spark import queries as catalog
    from polars_ds_extension_spark._utils import release_pins

    spark = get_spark(app="pds-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM + parquet-footer warmup (excluded from timings)
    from polars_ds_extension_spark.sources import load_table
    load_table(spark, sf_dir, "lineitem").count()

    # Python-worker/Arrow warmup: the first pandas-UDF stage otherwise
    # pays the 32-worker pool spin-up inside whichever heavy query runs
    # it first — multi-second noise that moved between queries from run
    # to run. Real clusters keep worker pools alive across queries, so
    # paying it once outside the timers is the honest accounting.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _wu(v: pd.Series) -> pd.Series:
        return v * 1.0

    spark.range(0, 32 * 256, 1, 32).select(
        _wu(F.col("id").cast("double"))).count()

    # Calibration microbench (r13 verdict #1): a FIXED pure-JVM
    # whole-stage-codegen job — no shuffle, no IO, no Python — whose
    # only cross-round variable is the host itself. Three rounds of
    # byte/task-identity arguments about degraded-host walls become one
    # division: wall_rN / (calib_rN / calib_rM) is the weather-
    # normalized wall. min-of-3 (same estimator as the probes); run at
    # the START, before the SPOT phase, and at the END so intra-run
    # drift (the r13b 7.45→4.76 s same-query decay) is also on record.
    def _calib_once() -> float:
        # ~6e9 modular adds across 32 fixed partitions; AQE has
        # nothing to re-plan and the result is a single long
        t0 = time.perf_counter()
        spark.range(0, 6_000_000_000, 1, 32).selectExpr(
            "sum(id % 1000003) as s").collect()
        return time.perf_counter() - t0

    def _calibrate(phase: str) -> None:
        walls = [_calib_once() for _ in range(3)]
        st["calib"][phase] = round(min(walls), 2)
        print(f"calib [{phase}]: {st['calib'][phase]}s "
              f"(runs {[round(w, 2) for w in walls]})", file=sys.stderr)

    _calibrate("start")

    # Single-shot timings proved too noisy to steer perf work (r4: 8
    # queries "regressed" >2x with zero code change — GC pauses and
    # first-touch costs land on whichever query runs first). Median of
    # up to 3 back-to-back runs inside one session kills that noise;
    # repeats are skipped for the slowest queries so total wall time
    # stays bounded.
    import statistics

    def _one_run(name, fn):
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
        except Exception as ex:  # pragma: no cover
            print(f"bench error in {name}: {ex}", file=sys.stderr)
            dt = float("nan")
        # drop cross-query state: stray pinned frames from two-pass plans
        # would otherwise occupy executor memory for the rest of the run
        release_pins()
        spark.catalog.clearCache()
        return dt

    cat_items = list(catalog.queries().items())
    for qi, (name, fn) in enumerate(cat_items):
        if elapsed() > 0.50 * budget:
            st["truncated"].append(
                f"catalog:{len(cat_items) - qi}_skipped")
            print(f"catalog truncated at {name} "
                  f"({len(cat_items) - qi} skipped)", file=sys.stderr)
            break
        runs = [_one_run(name, fn)]
        if runs[0] == runs[0]:  # not NaN
            n_runs = 3 if runs[0] <= 5.0 else 2
            runs += [_one_run(name, fn) for _ in range(n_runs - 1)]
            # slow tier: while the curve is still dropping >=40% per run
            # the query is warming (whole-stage codegen + C2 compile of
            # its generated classes — measured 16.5 -> 5.9 -> 2.7s on
            # near_dup_minhash), not at steady state; add one more run
            # so MIN reports the compiled plan, not the compiler.
            while (len(runs) < 4 and runs[0] > 5.0
                   and runs[-1] <= 0.6 * runs[-2]):
                runs.append(_one_run(name, fn))
        # median of 3 for the fast tier; for the slow tier the MIN is
        # the low-noise estimator (iterative/checkpointing queries swing
        # 2-3x on disk contention — near_dup_cluster_dedup was stamped
        # anywhere from 7s to 21s by single shots). Streaming queries
        # also take MIN: their warmup tail is long and one-sided
        # (stream_sessionize measured 11.2 -> 2.0 -> 1.8 -> 1.6s), so a
        # median lands mid-curve and drifts round-to-round with no code
        # change (the r6 1.0 -> 1.6s "regression").
        dt = statistics.median(runs) \
            if (len(runs) == 3 and runs[0] <= 5.0
                and not name.startswith("stream_")) \
            else min(runs)
        st["per_query"][name] = round(dt, 4)
        st["total"] += dt if dt == dt else 0.0
        print(f"bench {name}: median {dt:.3f}s over {len(runs)} "
              f"({', '.join(f'{r:.3f}' for r in runs)})", file=sys.stderr)
        # ~300 jobs of accumulated garbage otherwise drifts later queries
        # multi-seconds slower (measured: pack_sequences 1.2s standalone
        # vs 10s late in a long run). But a full GC EVERY query churns
        # the JIT/codegen cache and codegen-heavy queries pay 3-5x
        # (near_dup_simhash 1.4s -> 14s). Every 8th query bounds drift
        # without the deopt storm.
        if qi % 8 == 7:
            spark.sparkContext._jvm.System.gc()
    emit("catalog")

    # Scale probe: the most expensive queries on the lazily materialized
    # 10x CONSTANT-DENSITY data (.probe_data/sf1.0v3 — per-copy cipher
    # keeps dup-cluster sizes fixed, see scripts/scale_probe.py).
    # Converts "the plans are 100x-shaped" from code-reading to
    # measurement — a scan-bound query should land near the inflation
    # factor, sample-bounded kernels below it.
    #
    # SYMMETRIC FRESH-SESSION protocol (r9): both sides of every ratio
    # are min-of-3 runs in a FRESH JVM started after the catalog loop.
    # The r8 protocol divided a fresh-ish large-side min by the
    # long-session catalog median, so a query's ratio moved with
    # whatever heap/JIT residue ~185 queries left behind (measured:
    # eda_describe x3.4 late in the catalog session vs x1.3 fresh,
    # identical code — r8's "2.4x regression" was this asymmetry, not
    # the plan). min-of-3 on BOTH sides compares warmed plans; the
    # spread (max/min of the large runs) is recorded so a noisy ratio
    # is visibly noisy instead of silently authoritative.
    # Skipped (never fatal) if the probe data can't be built.
    # probes whose first fresh-JVM run is dominated by one-time codegen
    # of their big IVF/iterative plans, not by the data: r13b measured
    # spreads of 3.3-6.3 on these three (first run 2-3x the rest) while
    # every other probe sat at 1.1-1.7. One UNTIMED warmup run on each
    # side keeps min-of-3 comparing compiled plans — symmetric, so the
    # ratio is unbiased, and the spread criterion (<= 1.3 for
    # knn_auto_route, r11 verdict #4) grades plan scaling instead of
    # the C2 compiler.
    _WARM_FIRST = {"knn_auto_route", "ann_ivf_search", "pagerank"}
    # r15 (r14 verdict #1, 4th-strike list): probes whose §6 criterion
    # is graded on the RESTATED three-part form — deterministic
    # bytes/tasks (these rows also join the byte-decade loop) + a
    # calib-scaled wall band on the MIN (the stall-robust estimator:
    # a stall only ever inflates a sample, and these rows take 5 large-
    # side samples instead of 3 so the min escapes stall windows) +
    # spreads RECORDED with adjacent calib context, not gated. The r15
    # diagnosis (round log) is why no adjacency gate can police the
    # spread at 1-4 s absolutes: the variance lives in the 32-
    # concurrent-numpy-worker assignment stages (executor runTime
    # 25 s -> 327 s at byte-identical work, zero GC growth, zero
    # shuffle) — self-inflicted memory-bandwidth contention inside the
    # container that a JVM calib (register-bound; read 1.28-1.42 s flat
    # across a 7.6-18.4 s wall swing) and even an adjacent driver-side
    # numpy calib (clean 0.08 s beside a 17.2 s wall) both miss.
    # Normalization that IS applied is one-directional WITH A
    # DEADBAND: a wall is shrunk by its adjacent JVM calib's slowdown
    # factor vs the best calib across both legs ONLY when that factor
    # is >= 2x (a genuine stall window — the calib's own clean-run
    # sampling noise is ~1.5-1.8x, and a naive wall/c division was
    # measured to ADD that noise to clean runs: raw spread 1.31 ->
    # naive-norm 1.55 in the r15 smoke test); clean samples pass
    # through untouched and nothing is ever inflated.
    _CALIB_NORM = {"knn_auto_route"}

    def _probe_time(qs, name, d, calib=False):
        samples, calibs = [], []
        warm = calib or name in _WARM_FIRST
        timed = (5 if d != sf_dir else 3) if calib else 3
        runs = timed + (1 if warm else 0)
        for i in range(runs):
            t0 = time.perf_counter()
            qs[name](spark, d).count()
            wall = time.perf_counter() - t0
            release_pins()
            spark.catalog.clearCache()
            if not (warm and i == 0):
                samples.append(wall)
                if calib:
                    calibs.append(_calib_once())
        return min(samples), max(samples), ((samples, calibs)
                                            if calib else None)

    def _probe_set(names, pdir, out, spread=None, abs_out=None,
                   reserve=0.35, tier="probe10x"):
        # reserve-based gate: keep `reserve` of the budget for the
        # tiers behind this one (spots + finalization). An ELAPSED
        # gate misfires on a degraded host — the catalog can legally
        # end just under its own 0.50 gate, and elapsed<0.45 then
        # skipped every probe with half the budget still unspent
        # (r13: the driver-budget simulation lost all but 1-2 probes).
        qs = catalog.queries()
        for pi, name in enumerate(names):
            if name not in qs:
                continue
            if remaining() < reserve * budget:
                st["truncated"].append(f"{tier}:{len(names) - pi}_skipped")
                print(f"{tier} truncated at {name}", file=sys.stderr)
                return
            try:
                want_calib = name in _CALIB_NORM and tier == "probe10x"
                if name not in st["probe_small"]:
                    t_s, _mx, sc_s = _probe_time(qs, name, sf_dir,
                                                 calib=want_calib)
                    st["probe_small"][name] = t_s
                    if sc_s:
                        st["probe_small_norm"][name] = sc_s
                    # contamination tripwire: a fresh-session min-of-3
                    # far above the long-session catalog median means
                    # something else is eating the machine (r10: a
                    # transient co-tenant inflated the first 4 probe
                    # rows ~3x in one run — the rerun was clean). The
                    # warning makes a poisoned artifact self-describing
                    # instead of silently authoritative.
                    cat_t = st["per_query"].get(name)
                    if cat_t and cat_t == cat_t \
                            and st["probe_small"][name] > 2.5 * cat_t:
                        print(f"PROBE CONTAMINATION WARNING {name}: "
                              f"fresh small-side "
                              f"{st['probe_small'][name]:.2f}s"
                              f" vs catalog median {cat_t:.2f}s",
                              file=sys.stderr)
                base_t = st["probe_small"][name]
                t_large, t_max, sc_l = _probe_time(qs, name, pdir,
                                                   calib=want_calib)
            except Exception as ex:  # pragma: no cover
                print(f"probe error in {name}: {ex}", file=sys.stderr)
                continue
            out[name] = round(t_large / max(base_t, 1e-9), 1)
            if spread is not None:
                spread[name] = round(t_max / max(t_large, 1e-9), 2)
            if abs_out is not None:
                abs_out[name] = [round(base_t, 2), round(t_large, 2)]
            if sc_l and name in st["probe_small_norm"]:
                # calib-normalized ratio + spread (r14 verdict #1):
                # one-directional stall correction — see _CALIB_NORM.
                # ref = best calib across BOTH legs, so a chronically
                # slow session corrects nothing (both legs equally
                # slow cancels in the ratio anyway)
                w_s, c_s = st["probe_small_norm"][name]
                w_l, c_l = sc_l
                ref = min(c_s + c_l)
                # DEADBAND (r15 review): with ref = global min, a bare
                # max(1, c/ref) clamp is dead code — every c/ref >= 1,
                # ref cancels out of both reported ratios, and the
                # statistics collapse to the naive wall/c division the
                # protocol rejected (clean-calib sampling noise is
                # itself ~1.5-1.8x). A sample is corrected ONLY when
                # its adjacent calib shows a slowdown beyond that
                # noise band (>= 2x the best calib — a genuine stall
                # window); clean samples pass through untouched.
                _DB = 2.0

                def _corr(w: float, c: float) -> float:
                    f = c / ref
                    return w / f if f >= _DB else w

                norm_s = [_corr(w, c) for w, c in zip(w_s, c_s)]
                norm_l = [_corr(w, c) for w, c in zip(w_l, c_l)]
                st["probe_ratio_calib"][name] = round(
                    min(norm_l) / max(min(norm_s), 1e-9), 1)
                st["probe_spread_calib"][name] = round(
                    max(norm_l) / max(min(norm_l), 1e-9), 2)
                print(f"probe {name} CALIB-NORMALIZED: "
                      f"x{st['probe_ratio_calib'][name]}, spread "
                      f"x{st['probe_spread_calib'][name]} (norm large "
                      f"{[round(v, 2) for v in norm_l]}, norm small "
                      f"{[round(v, 2) for v in norm_s]}, calib ref "
                      f"{ref:.2f}, calibs small "
                      f"{[round(c, 2) for c in c_s]} large "
                      f"{[round(c, 2) for c in c_l]})", file=sys.stderr)
            print(f"probe {name}: {base_t:.2f}s -> {t_large:.2f}s "
                  f"(x{out[name]}, spread x{t_max / t_large:.2f})",
                  file=sys.stderr)

    if os.environ.get("SPARK_GRAFT_PROBE", "1") != "0" \
            and remaining() > 0.35 * budget:
        try:
            from scripts.scale_probe import (DENSE_QUERIES,
                                             build_probe_data,
                                             probe_rotation)
            probes = probe_rotation(round_no)
            print(f"probe rotation (round {round_no}): {len(probes)} of "
                  f"the full set — {probes}", file=sys.stderr)
            pdir = build_probe_data(spark)
            pdir_dense = build_probe_data(spark, dense=True)
            # fresh JVM for the probe stage (see protocol note above)
            spark.stop()
            spark = get_spark(app="pds-spark-bench-probe")
            spark.sparkContext.setLogLevel("ERROR")
            load_table(spark, sf_dir, "lineitem").count()
            spark.range(0, 32 * 256, 1, 32).select(
                _wu(F.col("id").cast("double"))).count()
            _probe_set(probes, pdir, st["probe_ratio"],
                       st["probe_spread"], st["probe_abs"],
                       reserve=0.35, tier="probe10x")
            emit("probe10x")
            # adversarial hot-cluster variant for the dedup family: the
            # bucket/cell caps are the defense; measure them every
            # round. Absolutes recorded under a @dense key — the RATIO
            # shares the const-density small-side denominator, so a
            # small-side speedup inflates it with no large-side change
            # (measured r9: minhash dense abs 17s -> 12s while the
            # ratio ROSE 4.2x -> 8.2x)
            dense_spread: dict = {}
            dense_abs: dict = {}
            _probe_set(DENSE_QUERIES, pdir_dense, st["probe_ratio_dense"],
                       dense_spread, dense_abs,
                       reserve=0.30, tier="probe10x_dense")
            for n, v in dense_abs.items():
                st["probe_spread"][f"{n}@dense"] = dense_spread.get(n)
                st["probe_abs"][f"{n}@dense"] = v
            emit("probe10x_dense")
        except Exception as ex:  # pragma: no cover
            print(f"scale probe skipped: {ex}", file=sys.stderr)
    elif os.environ.get("SPARK_GRAFT_PROBE", "1") != "0":
        # truncated records BUDGET exhaustion only — an env opt-out is
        # a deliberate switch, not a provenance event (r13 review)
        st["truncated"].append("probe10x:all_skipped")

    if os.environ.get("SPARK_GRAFT_PROBE", "1") != "0" \
            and remaining() > 0.27 * budget:
        # Candidate-pair evidence for the minhash plan ("no silent
        # caps", r9 verdict): slots / distinct pairs / max bucket on
        # the SAME near-dup corpus the probed queries run, at 1x, 10x
        # const-density, and 10x dense. Linear slots+distinct with a
        # super-linear wall ratio attributes the ratio to constants
        # (parallelism floor), not pair explosion; dropped_buckets > 0
        # says the max_bucket cap started binding.
        try:
            from scripts.scale_probe import build_probe_data
            pdir = build_probe_data(spark)
            pdir_dense = build_probe_data(spark, dense=True)
            from polars_ds_extension_spark.operators.dedup import (
                lsh_candidate_stats)
            from polars_ds_extension_spark.queries_llm import (
                _docs_with_near_dups)
            for tag, d in (("1x", sf_dir), ("10x", pdir),
                           ("10xd", pdir_dense)):
                stt = lsh_candidate_stats(
                    _docs_with_near_dups(spark, d), "doc_id", "text")
                spark.catalog.clearCache()
                st["probe_pairs"][tag] = [
                    stt["cand_slots"], stt["cand_distinct"],
                    stt["max_bucket_size"], stt["dropped_buckets"],
                    stt["collapsed"], stt["n_mined"]]
                print(f"lsh pair stats {tag}: {stt}", file=sys.stderr)
            # SRP twin (stderr record only — the parsed line's budget
            # is spent; dropped_buckets growing round-over-round here
            # means ann_lsh_join's cap started binding)
            from polars_ds_extension_spark.operators.knn import (
                srp_bucket_stats)
            for tag, d in (("1x", sf_dir), ("10x", pdir)):
                emb = load_table(spark, d, "embeddings")
                sst = srp_bucket_stats(
                    emb.selectExpr("vec_id",
                                   "cast(embedding as array<double>) v"),
                    "vec_id", "v")
                print(f"srp bucket stats {tag}: {sst}", file=sys.stderr)
            # IVF cell-occupancy evidence for semantic_dedup (r13
            # verdict #4, r14 verdict #2): within_pairs is the exact
            # size of the within-cell quadratic term the GEMM mine
            # runs, on the same corpus + params as the catalog query
            # (perturbed dups, first-id sqrt(N) centroids, and — since
            # r15 — semantic_dedup's SALTED default max_cell, so the
            # line grades the shipped defense: max_group <= cap while
            # within_pairs stays bounded per decade). The unsalted
            # term stays on record via a second stats call at
            # max_cell=None (stderr only).
            # [n_vectors, n_cells, n_groups, max_group, within_pairs]
            import math as _math

            from polars_ds_extension_spark.operators.dedup import (
                semantic_dedup as _sem_dedup)
            from polars_ds_extension_spark.operators.knn import (
                ivf_cell_stats)
            for tag, d in (("ivf_1x", sf_dir), ("ivf_10xd", pdir_dense)):
                emb = load_table(spark, d, "embeddings").select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("v"))
                dupv = emb.where(F.col("vec_id") % 7 == 0).select(
                    (F.col("vec_id") + 100000).alias("vec_id"),
                    F.transform("v", lambda x, i: F.when(
                        i == 0, x * 1.05).otherwise(x)).alias("v"))
                uv = emb.unionByName(dupv)
                n_cent = max(16, _math.ceil(_math.sqrt(uv.count())))
                import inspect as _insp
                _cap = (_insp.signature(_sem_dedup)
                        .parameters["max_cell"].default)
                ist = ivf_cell_stats(uv, "vec_id", "v",
                                     n_centroids=n_cent, max_cell=_cap)
                spark.catalog.clearCache()
                st["probe_pairs"][tag] = [
                    ist["n_vectors"], ist["n_cells"], ist["n_groups"],
                    ist["max_group"], ist["within_pairs"]]
                print(f"ivf cell stats {tag} (default max_cell="
                      f"{_cap}): {ist}", file=sys.stderr)
                # unsalted term stays on record (stderr): the delta vs
                # the line above is what the shipped default bought.
                # Budget-gated (r15 review): the twin repeats the full
                # assignment pass over the dense union corpus for a
                # stderr-only line — it must never starve the spot /
                # byte phases behind it.
                if remaining() > 180:
                    iun = ivf_cell_stats(uv, "vec_id", "v",
                                         n_centroids=n_cent,
                                         max_cell=None)
                    spark.catalog.clearCache()
                    print(f"ivf cell stats {tag} (unsalted): {iun}",
                          file=sys.stderr)
                else:
                    st["truncated"].append(
                        f"ivf_unsalted_twin:{tag}_skipped")
            emit("pair_stats")
        except Exception as ex:  # pragma: no cover
            print(f"pair stats skipped: {ex}", file=sys.stderr)
    elif os.environ.get("SPARK_GRAFT_PROBE", "1") != "0":
        st["truncated"].append("pair_stats:skipped")

    # 100x spot probe (r9 verdict #5): ONE timed run per query on
    # 100x documents+embeddings — where polynomial growth would
    # compound visibly (a true n^p, p>1 plan would land ~ratio^2
    # above its 10x absolute). Single-shot by design: the absolute
    # magnitude is the signal, min-of-3 wall time is not worth
    # 3x the suite cost here.
    #
    # r11: each spot also records its SHUFFLE READ/WRITE BYTES and
    # completed-task count (AppStatusStore stage deltas — the same
    # always-on listener statusTracker reads; works with the UI
    # off). A wall over the two-point linear fit is only
    # attributable with these beside it: linear bytes + linear
    # tasks says the excess is per-wave constants at fixed core
    # count (32 threads here — terms a real cluster scales out),
    # super-linear bytes names a shuffle that actually grew.
    def _stage_snapshot():
        """(max_stage_id, {id: (read, write, tasks)}) — summing
        deltas by NEW stage ids keeps eviction of old stages
        (spark.ui.retainedStages) from corrupting the delta. The
        status store is fed by an ASYNC listener bus: drain it
        first or the just-finished query's last stage-end events
        can be missing from this snapshot and silently credited to
        the NEXT query's delta (r11 review finding)."""
        sc = spark.sparkContext
        jvm = sc._jvm
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        except Exception:
            pass  # signature moved — snapshot may lag by a beat
        store = sc._jsc.sc().statusStore()
        lst = store.stageList(jvm.java.util.ArrayList(), False,
                              False, sc._gateway.new_array(
                                  jvm.double, 0),
                              jvm.java.util.ArrayList())
        out = {}
        for i in range(lst.size()):
            sd = lst.apply(i)
            out[sd.stageId()] = (sd.shuffleReadBytes(),
                                 sd.shuffleWriteBytes(),
                                 sd.numCompleteTasks())
        return max(out, default=-1), out

    def _delta(hi0, snap):
        rd = sum(v[0] for s, v in snap.items() if s > hi0)
        wr = sum(v[1] for s, v in snap.items() if s > hi0)
        tk = sum(v[2] for s, v in snap.items() if s > hi0)
        return rd, wr, tk

    if os.environ.get("SPARK_GRAFT_PROBE", "1") != "0" \
            and os.environ.get("SPARK_GRAFT_PROBE100", "1") != "0" \
            and remaining() > 240:
        try:
            from scripts.scale_probe import (ALWAYS_SPOTS as _ALWAYS,
                                             SPOT_QUERIES,
                                             build_probe_data,
                                             build_spot_data,
                                             spot_rotation)
            spot_list = spot_rotation(round_no)
            print(f"spot rotation (round {round_no}): {spot_list}",
                  file=sys.stderr)
            sdir = build_spot_data(spark)
            # fresh JVM for the spot phase too (r10d): the single-
            # shot absolutes inherited end-of-session heap/JIT
            # drift — three same-code runs measured ann_ivf_search
            # 10-24 s and cluster_dedup 130-207 s at 100×, while a
            # fresh JVM reproduced the minhash number within 6%.
            # Same rationale as the r9 symmetric-fresh-session fix.
            spark.stop()
            spark = get_spark(app="pds-spark-bench-spot")
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(0, 32 * 256, 1, 32).select(
                _wu(F.col("id").cast("double"))).count()
            _calibrate("spot")
            # page-cache warmup (r11): the spot tables are ~7.5 GB
            # of parquet read exactly once per single-shot — two
            # same-code runs measured top_ngrams 11.2 vs 31.8 s at
            # byte-identical work purely on OS cache state. One
            # untimed OS-level read per file pins the cache state
            # so spot walls compare across rounds (cold-scan cost
            # is the cluster's variable; the probe grades plan
            # shape). A Spark count() would NOT do this — parquet
            # counts are metadata-only.
            for _fp in glob.glob(f"{sdir}/*.parquet/*.parquet"):
                with open(_fp, "rb") as _fh:
                    while _fh.read(1 << 24):
                        pass
            qs = catalog.queries()
            # Same-JVM fit legs for the fit-watched spot (r14): the
            # 10x leg measured back in the probe JVM swung 40%+
            # between sessions on this host (7.4 vs 11.3 s, same code
            # + data), which swings the extrapolated 100x prediction
            # ~2x — a ratio-of-fit verdict graded from cross-JVM legs
            # measures weather, not the plan. The watched spot's 1x
            # and 10x legs re-measure min-of-3 HERE, minutes and zero
            # JVMs away from the 100x reps; gen_survey6 prefers these
            # legs for the fit when present.
            _FIT_SPOTS = ("near_dup_minhash",)
            st["spot_fit"] = {}
            for name in _FIT_SPOTS:
                if name not in spot_list or name not in qs \
                        or remaining() < 300:
                    continue
                try:
                    pdir_f = build_probe_data(spark)
                    t1 = _probe_time(qs, name, sf_dir)[0]
                    t10 = _probe_time(qs, name, pdir_f)[0]
                    st["spot_fit"][name] = [round(t1, 2), round(t10, 2)]
                    print(f"spot fit legs {name}: {t1:.2f}s -> "
                          f"{t10:.2f}s (same JVM as the 100x reps)",
                          file=sys.stderr)
                except Exception as ex:  # pragma: no cover
                    print(f"spot fit legs skipped for {name}: {ex}",
                          file=sys.stderr)
            # the two heaviest spots carried ±25% single-shot
            # ranges across r11's four same-code runs (minhash
            # 1.85-2.27× of fit, cluster 1.34-2.76×) — min-of-3
            # with the spread recorded turns the range into a
            # number the ≤2× target can be judged on (r11 verdict
            # #6). The rest stay single-shot (suite-cost bound).
            # ann_ivf_search joined r12: its single-shot wall swung
            # 15.7/18.9/60.7 s across three same-plan runs at
            # byte-identical work (52.6 MB / 194 tasks every time)
            # — the widest relative range in the suite
            _MULTI = {"near_dup_minhash", "near_dup_cluster_dedup",
                      "ann_ivf_search"}
            for si, name in enumerate(spot_list):
                if remaining() < 150:
                    st["truncated"].append(
                        f"probe100x:{len(spot_list) - si}_skipped")
                    print(f"spot phase truncated at {name}",
                          file=sys.stderr)
                    break
                walls = []
                rd = wr = tk = None
                for _rep in range(3 if name in _MULTI else 1):
                    # extra reps only while the PENDING spots keep a
                    # seat: coverage (>=4 spots, r13 verdict #1) beats
                    # a third rep on a degraded host — reserve ~90 s
                    # per un-run spot plus the finalization floor.
                    # ALWAYS_SPOTS members are exempt (r14 verdict #5:
                    # cluster_dedup's 3rd rep yielded to this gate two
                    # rounds running, leaving its official wall
                    # single-shot) — they keep only the hard floor.
                    if walls and name not in _ALWAYS and remaining() < (
                            120 + 90 * (len(spot_list) - si - 1)):
                        st["truncated"].append(f"probe100x:{name}_reps")
                        break
                    if walls and remaining() < 130:  # hard floor
                        st["truncated"].append(f"probe100x:{name}_reps")
                        break
                    try:
                        hi0, _snap = _stage_snapshot()
                    except Exception:  # API moved — wall only
                        hi0 = None
                    t0 = time.perf_counter()
                    qs[name](spark, sdir).count()
                    walls.append(round(time.perf_counter() - t0, 1))
                    if hi0 is not None and rd is None:
                        try:  # bytes are deterministic — 1st run
                            _hi, snap = _stage_snapshot()
                            rd, wr, tk = _delta(hi0, snap)
                        except Exception as ex:
                            print(f"probe100 metrics skipped for "
                                  f"{name}: {ex}", file=sys.stderr)
                    release_pins()
                    spark.catalog.clearCache()
                wall = min(walls)
                st["probe_100x"][name] = wall
                if rd is not None:
                    st["probe_100x"][name] = [
                        wall, round(rd / (1 << 20), 1),
                        round(wr / (1 << 20), 1), int(tk)]
                    if len(walls) > 1:
                        st["probe_100x"][name].append(
                            round(max(walls) / max(wall, 1e-9), 2))
                print(f"probe100 {name}: {st['probe_100x'][name]} "
                      "(s[, shuffle-read MB, shuffle-write MB, "
                      "tasks[, spread]]) runs="
                      f"{walls}", file=sys.stderr)
                emit(f"spot:{name}")
            # (r14 verdict #5: the two supplementary spots below ran
            # LAST for three rounds and were truncated every time —
            # they now run immediately after the spot loop, ahead of
            # the 100x pair stats and the byte decades.)
            # forced-shuffle connected-components probe (r11
            # verdict #3): a 1.25M-edge star graph (shallow
            # components, the dup-graph shape) run with
            # small_graph=False — the 100 TB branch that the ≤1M
            # auto gate otherwise never exercises. Parity with the
            # broadcast branch is pinned by pytest; this records
            # the branch's wall + shuffle bytes each round.
            if remaining() > 100:
                try:
                    from polars_ds_extension_spark.operators.dedup \
                        import connected_components as _cc
                    g = spark.range(0, 1_250_000).selectExpr(
                        "(id div 4) * 5 as id_a",
                        "(id div 4) * 5 + 1 + id % 4 as id_b")
                    hi0, _snap = _stage_snapshot()
                    t0 = time.perf_counter()
                    n_lab = _cc(g, assume_unique=True,
                                small_graph=False).count()
                    wall = round(time.perf_counter() - t0, 1)
                    _hi, snap = _stage_snapshot()
                    rd, wr, tk = _delta(hi0, snap)
                    st["probe_100x"]["cc_shuffle_1m"] = [
                        wall, round(rd / (1 << 20), 1),
                        round(wr / (1 << 20), 1), int(tk)]
                    spark.catalog.clearCache()
                    print(f"probe cc_shuffle_1m: "
                          f"{st['probe_100x']['cc_shuffle_1m']} "
                          f"labels={n_lab}", file=sys.stderr)
                except Exception as ex:
                    print(f"cc shuffle probe skipped: {ex}",
                          file=sys.stderr)
            else:
                st["truncated"].append("cc_shuffle_1m:skipped")
            # vector-index amortization spot (r11 verdict #2): the
            # r11 persisted-IVF surface exists to amortize
            # ann_ivf_search's documented Θ(N·√N) per-call index
            # assignment — demonstrate it AT 100×. The index over
            # the 2M-vector spot embeddings is built ONCE into a
            # persisted fixture (dir versioned WITH the spot data);
            # the probe then times the SAME query batch the
            # ann_ivf_search spot uses (vec_id < 100) against the
            # prebuilt artifact — paying only Θ(q·nprobe·N/C·d).
            if remaining() > 100:
                try:
                    import math
                    from polars_ds_extension_spark.operators.knn import (
                        build_vector_index, search_vector_index)
                    vdir = f"{sdir}-vecindex"
                    emb = spark.read.parquet(
                        f"{sdir}/embeddings.parquet")
                    # gate on the LAST write's _SUCCESS marker, not dir
                    # existence — a crash between the two writes would
                    # otherwise poison the fixture forever (the r12
                    # partial-probe-dir lesson)
                    if not os.path.exists(
                            f"{vdir}/cells.parquet/_SUCCESS"):
                        n_cent = max(16, math.ceil(
                            math.sqrt(emb.count())))
                        t0 = time.perf_counter()
                        cents, cells = build_vector_index(
                            emb, "vec_id", "embedding",
                            n_centroids=n_cent, centroids="first")
                        cents.write.mode("overwrite").parquet(
                            f"{vdir}/centroids.parquet")
                        cells.write.mode("overwrite").parquet(
                            f"{vdir}/cells.parquet")
                        print(f"probe vecindex built in "
                              f"{time.perf_counter() - t0:.1f}s "
                              f"(one-time fixture, {n_cent} cells)",
                              file=sys.stderr)
                    cents = spark.read.parquet(
                        f"{vdir}/centroids.parquet")
                    cells = spark.read.parquet(
                        f"{vdir}/cells.parquet")
                    qbatch = emb.where(F.col("vec_id") < 100)
                    hi0, _snap = _stage_snapshot()
                    t0 = time.perf_counter()
                    search_vector_index(qbatch, "vec_id", "embedding",
                                        cents, cells, k=3,
                                        nprobe=2).count()
                    wall = round(time.perf_counter() - t0, 1)
                    _hi, snap = _stage_snapshot()
                    rd, wr, tk = _delta(hi0, snap)
                    st["probe_100x"]["vector_index_search"] = [
                        wall, round(rd / (1 << 20), 1),
                        round(wr / (1 << 20), 1), int(tk)]
                    release_pins()
                    spark.catalog.clearCache()
                    print(f"probe vector_index_search@100x: "
                          f"{st['probe_100x']['vector_index_search']} "
                          "(vs ann_ivf_search one-shot spot above)",
                          file=sys.stderr)
                except Exception as ex:
                    print(f"vector index spot skipped: {ex}",
                          file=sys.stderr)
            else:
                st["truncated"].append("vector_index_search:skipped")
            emit("supplementary_spots")
            # pair stats at 100x too: a spot wall above the linear
            # fit is only attributable with the work counts beside
            # it (r10: 147s vs ~79s linear-from-10x read as an
            # asymptote until slots measured exactly 10.0x/decade)
            if remaining() > 120:
                from polars_ds_extension_spark.operators.dedup import (
                    lsh_candidate_stats)
                from polars_ds_extension_spark.queries_llm import (
                    _docs_with_near_dups)
                stt = lsh_candidate_stats(
                    _docs_with_near_dups(spark, sdir), "doc_id", "text")
                spark.catalog.clearCache()
                st["probe_pairs"]["100x"] = [
                    stt["cand_slots"], stt["cand_distinct"],
                    stt["max_bucket_size"], stt["dropped_buckets"],
                    stt["collapsed"], stt["n_mined"]]
                print(f"lsh pair stats 100x: {stt}", file=sys.stderr)
                emit("pair_stats_100x")
            else:
                st["truncated"].append("pair_stats_100x:skipped")
            # Byte decades (r11): shuffle volume + task counts for
            # the spot family at 1x and 10x too — bytes are
            # deterministic (unlike walls), so these run AFTER the
            # single-shot spots in the same JVM without touching
            # the wall protocol. With probe_100x's bytes they give
            # three decades: linear bytes = any wall excess is
            # waves/constants at fixed cores; a byte JUMP names a
            # plan-regime transition (measured r11:
            # near_dup_minhash 8.2 MB -> 72 MB -> 10.3 GB — the
            # exact-verify join tips from broadcast to sort-merge
            # at the 100x decade, moving each doc's shingle-hash
            # array twice ≈ 10 KB/doc, bounded per doc — the plan
            # a 100 TB corpus runs from the start).
            from scripts.scale_probe import build_probe_data
            pdir_b = build_probe_data(spark)  # cached if probes ran
            # _CALIB_NORM rows join the decade loop (r15: their §6
            # criterion is restated on deterministic bytes/tasks +
            # a calib-scaled wall band — the bytes row IS the
            # deterministic half)
            bytes_list = list(spot_list) + [
                n for n in sorted(_CALIB_NORM)
                if n in qs and n not in spot_list]
            for bi, name in enumerate(bytes_list):
                if remaining() < 90:
                    st["truncated"].append(
                        f"probe_bytes:{len(bytes_list) - bi}_skipped")
                    break
                try:
                    for tag, d in (("1x", sf_dir), ("10x", pdir_b)):
                        hi0, _snap = _stage_snapshot()
                        qs[name](spark, d).count()
                        _hi, snap = _stage_snapshot()
                        rd, _wr, tk = _delta(hi0, snap)
                        st["probe_bytes"].setdefault(name, {})[tag] = [
                            round(rd / (1 << 20), 1), int(tk)]
                        release_pins()
                        spark.catalog.clearCache()
                    print(f"probe bytes {name}: "
                          f"{st['probe_bytes'][name]}", file=sys.stderr)
                except Exception as ex:
                    print(f"byte decade skipped for {name}: {ex}",
                          file=sys.stderr)
            emit("probe_bytes")
        except Exception as ex:  # pragma: no cover
            print(f"100x spot probe skipped: {ex}", file=sys.stderr)
    elif os.environ.get("SPARK_GRAFT_PROBE", "1") != "0" \
            and os.environ.get("SPARK_GRAFT_PROBE100", "1") != "0":
        st["truncated"].append("probe100x:all_skipped")

    try:
        _calibrate("end")
    except Exception as ex:  # pragma: no cover
        print(f"end calib skipped: {ex}", file=sys.stderr)

    # Full-precision record for anyone reading the whole log (stderr so
    # the driver's stdout tail stays parseable JSON lines only).
    print(json.dumps(_full_record()), file=sys.stderr)
    finished.set()
    emit("final")
    spark.stop()


if __name__ == "__main__":
    main()
