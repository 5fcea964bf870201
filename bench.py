#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), CPU count
from $SPARK_GRAFT_CPUS. Each query is forced end-to-end with a noop sink
(full computation, no driver collect). One warm-up of the flagship query
amortizes JVM/codegen startup out of the per-query numbers.

Output contract: the recorder keeps only the LAST ~2000 characters of
stdout and parses the final line (round 2's 77-query line overflowed that
window and was recorded with ``parsed: null``). So the final stdout line
is guaranteed to fit ``LINE_BUDGET``: if the full per-query dict is too
long, the cheapest queries are folded into one ``_other`` bucket (their
sum — cheap queries are inside the regression guard's 0.3 s absolute
slack anyway, so per-query detail matters most for the expensive ones).
The COMPLETE payload — all per-query timings at 3 decimals, regressions,
like-for-like subtotals — is written to ``BENCH_DETAIL.json`` when the
run is QUIET (calibration inside the quiet bound — the only reads that
may ratchet the baseline), else to ``BENCH_LAST_RUN.json`` so a noisy
driver read can never overwrite the quiet pin (r16 verdict #1).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402
from real_time_mobility_heatmap_spark.session import get_spark, spark_cpus  # noqa: E402

LINE_BUDGET = 1850  # stdout line cap: recorder tail window is ~2000 chars
DETAIL_PATH = REPO / "BENCH_DETAIL.json"
LAST_RUN_PATH = REPO / "BENCH_LAST_RUN.json"


def main() -> None:
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    runs = int(os.getenv("SPARK_GRAFT_BENCH_RUNS", "2"))

    def noop_probe() -> float:
        # session-overhead calibration: a degenerate 1-row query whose cost
        # is pure job-launch + noop-commit overhead. Sampled through each
        # pass, the series shows whether the host/session drifted DURING
        # the run (r4's uniform ~+0.3s/query floor was exactly this shape
        # and was unattributable without a calibration record).
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Warm-ups amortize one-time session costs out of the per-query numbers:
    # JVM/codegen startup (mobility_tiles), the Arrow Python-worker pool
    # (media_features), and the shingle-pipeline plan compile
    # (minhash_signatures) — all at the tiny sf0.001 fixture so the warm-up
    # itself is ~free. Steady-state throughput is what the numbers measure.
    warm_dir = "/root/testdata/sf0.001"
    for warm in ("mobility_tiles", "media_features", "minhash_signatures", "streaming_tiles"):
        try:
            qs[warm](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    # Round-robin passes: run the WHOLE suite N times and take the min per
    # query across passes, rather than N back-to-back runs per query. A
    # transient host stall then lands on one pass of many queries (and the
    # other pass's min absorbs it) instead of poisoning both runs of
    # whichever query it hit — the r4 verdict's variance post-mortem asked
    # for exactly this protocol.
    #
    # FIXED (sorted) execution order, decoupled from the dict order: the
    # queries() dict is the driver's correctness rotation window, so its
    # order RESHUFFLES every round. Per-query wall time is position-
    # dependent (accumulated codegen/GC session pressure after ~100 plans:
    # r9's media_frame_sample measured 0.98s at suite position 69 in both
    # passes vs 0.55s isolated and 0.62s after only its 6 r9-order
    # predecessors — code unchanged since r7), so an order that moves
    # between rounds makes baselines incomparable and flags phantom
    # regressions. Sorted-by-name order keeps each query's predecessors
    # stable across rounds; the ratcheting baseline then compares
    # like-for-like positions.
    run_order = sorted(qs)
    all_times: dict[str, list[float]] = {name: [] for name in qs}
    calibration: list[float] = []
    for _ in range(runs):
        for i, name in enumerate(run_order):
            fn = qs[name]
            if i % 20 == 0:
                calibration.append(round(noop_probe(), 3))
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            all_times[name].append(time.perf_counter() - t0)
        calibration.append(round(noop_probe(), 3))

    timings = {name: round(min(ts), 3) for name, ts in all_times.items()}
    total = round(sum(timings.values()), 3)
    regressions = _regressions(timings)
    common = _common_with_prev(timings)
    # Quiet-window gate (r13 verdict #8): the 1.5x+0.3s guard burned
    # three adjudication cycles on hypervisor weather — every r13 flag
    # except one was host drift, diagnosable from the calibration series
    # itself. A run whose calibration median exceeds the quiet bound
    # (0.032 s — the r11-r13 quiet-window reads sat at 0.030, the
    # drift-era reads at 0.037-0.050) reports its flags as
    # DRIFT-SUSPECT instead of hard regressions: still recorded, still
    # printed, but separated so the per-round regression list flags
    # code, not weather. A real regression measured during drift
    # re-flags on the next quiet run — the baseline only ratchets
    # forward on complete records, so nothing is lost.
    calib_median_now = (
        sorted(calibration)[len(calibration) // 2] if calibration else None
    )
    # The bound is the MAX of the absolute quiet ceiling and 1.2x the
    # baseline record's own calibration (r14 advice): per-query flags
    # compare against the detail baselines, so what makes them
    # attributable to CODE is that both runs carried similar session
    # overhead — like-for-like — not that the host hit an absolute
    # speed. On a permanently slower host/image every run would
    # otherwise be non-quiet forever and strict mode could never fire.
    baseline_calib = None
    try:
        _d = json.loads(DETAIL_PATH.read_text())
        if _d.get("sf") == sf:
            baseline_calib = _d.get("calib_median")
    except (OSError, ValueError):
        pass
    quiet_bound = max(0.032, 1.2 * baseline_calib) if baseline_calib else 0.032
    quiet = calib_median_now is not None and calib_median_now <= quiet_bound
    drift_suspect: dict[str, dict[str, float]] = {}
    if regressions and not quiet:
        drift_suspect, regressions = regressions, {}
    for label, regs in (("REGRESSION", regressions),
                        ("REGRESSION (drift-suspect)", drift_suspect)):
        for name, r in regs.items():
            print(
                f"BENCH {label}: {name} {r['now']:.3f}s vs baseline "
                f"{r['baseline']:.3f}s (> 1.5x + 0.3s slack)",
                file=sys.stderr,
            )

    import pyspark

    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs": runs,
        "agg": "min",
        "regressions": regressions,
        "quiet": quiet,
        "quiet_bound": round(quiet_bound, 3),
        **({"regressions_drift_suspect": drift_suspect} if drift_suspect else {}),
        "common_with_prev": common,
        # environment fingerprint: per-query baselines ratchet across
        # rounds, but rounds run on ephemeral containers — a pyspark or
        # host change shifts ALL timings multiplicatively (r5->r6: the
        # image moved to pyspark 4.1.2 and every query read ~1.5x slower
        # with an unchanged diff). Recording the version makes that
        # attributable instead of looking like 28 code regressions.
        "pyspark": pyspark.__version__,
        # the EFFECTIVE Spark core count (the same source session.py sizes
        # local[N] and shuffle.partitions from), NOT os.cpu_count(): the
        # driver's low-core scaling run sets $SPARK_GRAFT_CPUS=8 on a
        # 32-CPU host, and stamping the host count made that run
        # fingerprint-identical to the 32-core pin — its quiet read then
        # overwrote the ratchet and every 32-core comparison against it
        # flagged phantom regressions (r17 verdict #2).
        "cpus": spark_cpus(),
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    # drift attribution: was the baseline round recorded on the same
    # environment? If not, per-query regressions against it are suspect
    # (multiplicative host/runtime shift, not code) — the flag makes the
    # recorded comparison self-describing instead of needing a post-mortem.
    payload["env_match_prev"] = _env_match_prev(payload)
    # persistence escalation (r15 verdict #5): the quiet gate mutes flags
    # during host drift, but three straight noisy driver rounds proved
    # weather can be the NORM — a real regression measured under drift
    # would then stay muted forever. A name flagged in THIS run and in
    # BOTH of the two most recent same-environment driver records (and
    # not adjudicated-refuted since; bench_adjudicated.json) is CODE,
    # not weather — drift inflates different queries run to run, code
    # inflates the same one every time. Escalated flags fail strict mode
    # even when the run itself is non-quiet.
    persistent = _persistent_flags(
        set(regressions) | set(drift_suspect), payload
    )
    if persistent:
        payload["regressions_persistent"] = persistent
        for name in persistent:
            print(
                f"BENCH REGRESSION (persistent, 3 same-env runs): {name}",
                file=sys.stderr,
            )
    payload["calib_max"] = max(calibration) if calibration else None
    payload["calib_median"] = (
        round(sorted(calibration)[len(calibration) // 2], 3) if calibration else None
    )
    # setup-subtracted total (r9 verdict #7): per-query job-launch/commit
    # overhead — the calibration median — times the query count, removed
    # from the headline so plan-cost changes aren't masked by fixed
    # overhead accreting with registry growth
    if payload["calib_median"] is not None:
        payload["value_net"] = round(
            max(0.0, total - payload["calib_median"] * len(timings)), 3
        )
    # full calibration series (and per-pass raw times) only in the detail
    # file — the stdout line carries just the summary so it stays in budget.
    # Written AFTER the calib/net summary so the detail record carries it
    # too (the first value_net run left them stdout-only).
    detail = dict(payload)
    detail["calibration"] = calibration
    detail["raw_times"] = {k: [round(t, 3) for t in v] for k, v in all_times.items()}
    persisted = _persist_detail(detail)
    print(_stdout_line(payload, persisted.name))
    spark.stop()
    if (regressions or persistent) and os.getenv("SPARK_GRAFT_BENCH_STRICT"):
        sys.exit(1)


def _stdout_line(payload: dict, detail_name: str = None) -> str:
    """Render the final stdout line within ``LINE_BUDGET``: full payload
    if it fits, else per-query values at 2 decimals, else the cheapest
    queries folded into an ``_other`` sum (detail stays in the persisted
    detail file — BENCH_DETAIL.json for quiet runs, BENCH_LAST_RUN.json
    for noisy ones — referenced by the ``detail`` field)."""
    compact = dict(payload)
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) <= LINE_BUDGET:
        return line

    q2 = {k: round(v, 2) for k, v in payload["queries"].items()}
    compact["queries"] = q2
    compact["detail"] = detail_name or DETAIL_PATH.name
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > LINE_BUDGET and len(q2) > 1:
        # fold the cheapest remaining query into _other (ties: name order)
        cheapest = min((k for k in q2 if k != "_other"), key=lambda k: (q2[k], k))
        q2["_other"] = round(q2.get("_other", 0.0) + q2.pop(cheapest), 2)
        compact["n_folded"] = compact.get("n_folded", 0) + 1
        line = json.dumps(compact, separators=(",", ":"))
    return line


def _persist_detail(detail: dict) -> Path:
    """Route the full detail record to disk and return the path written.

    QUIET runs refresh the ratchet file (``BENCH_DETAIL.json`` — the
    per-query baseline every later run compares against); non-quiet runs
    go to ``BENCH_LAST_RUN.json`` instead, so hypervisor weather can
    never overwrite the quiet pin. Three consecutive rounds (r14-r16)
    opened with a ritual ``git checkout -- BENCH_DETAIL.json`` because
    the driver's noisy per-round read landed in the ratchet; routing by
    the run's own quiet verdict removes the ritual without changing any
    gate semantics (the quiet pin stays the only baseline source, and a
    noisy run's record is still fully preserved for adjudication).

    QUIET is necessary but not sufficient (r17 verdict #2): the driver's
    quiet 8-core scaling run overwrote the 32-core pin, so the next
    32-core run would have compared every query against 8-core
    baselines. A quiet run only refreshes the ratchet when its
    environment fingerprint (cpus/pyspark/jvm) matches the committed
    pin's; a quiet run on a DIFFERENT environment routes to the side
    file like a noisy one. A pin with no/unknown fingerprint is
    refreshable (first pin, or a pre-fingerprint record)."""
    target = DETAIL_PATH if detail.get("quiet") else LAST_RUN_PATH
    if detail.get("quiet"):
        try:
            pin = json.loads(DETAIL_PATH.read_text())
        except (OSError, ValueError):
            pin = {}
        keys = ("cpus", "pyspark", "jvm")
        if all(k in pin for k in keys) and any(
            pin.get(k) != detail.get(k) for k in keys
        ):
            target = LAST_RUN_PATH
    try:
        target.write_text(json.dumps(detail, indent=1, sort_keys=True) + "\n")
    except OSError:
        pass
    return target


ADJUDICATED_PATH = REPO / "bench_adjudicated.json"


def _adjudicated_round(entry) -> int:
    """Refuted-round from one bench_adjudicated.json value. Two formats:
    the legacy bare int, and the evidence-bearing object
    ``{"round": N, "evidence": "<SCALE.md anchor>"}`` (r16 advice: a
    blanket name list with no per-entry pointer could quietly mute the
    persistence escalation; tests/test_bench_guard.py asserts every
    committed entry's evidence anchor exists in SCALE.md)."""
    if isinstance(entry, dict):
        try:
            return int(entry.get("round", -1))
        except (TypeError, ValueError):
            return -1
    try:
        return int(entry)
    except (TypeError, ValueError):
        return -1


def _persistent_flags(flagged_now: set, env: dict) -> list[str]:
    """Names flagged in this run AND in both of the two most recent
    recorded driver rounds, all three on the same environment
    fingerprint, excluding flags adjudicated-refuted at or after the
    record's round (bench_adjudicated.json: {name: refuted_round} — an
    isolated quiet-window A/B entry in SCALE.md is the evidence that
    backs each value; records from rounds <= refuted_round are
    explained weather and do not count toward the streak)."""
    if not flagged_now:
        return []
    try:
        adjudicated = json.loads(ADJUDICATED_PATH.read_text())
    except (OSError, ValueError):
        adjudicated = {}
    recorded = sorted(REPO.glob("BENCH_r*.json"), reverse=True)[:2]
    if len(recorded) < 2:
        return []
    survivors = set(flagged_now)
    for p in recorded:
        m = re.search(r"BENCH_r(\d+)", p.name)
        try:
            rnd = int(m.group(1))
            parsed = json.loads(p.read_text()).get("parsed") or {}
        except (OSError, ValueError, AttributeError):
            return []
        if any(k not in parsed for k in ("pyspark", "cpus", "jvm")):
            # env-UNKNOWN record (pre-fingerprint round, or a parsed:null
            # recovery): can't attribute the flag to the same host, so it
            # must not extend a same-env streak — mirror the conservative
            # return on parse errors (r16 advice)
            return []
        if any(parsed.get(k) != env.get(k) for k in ("pyspark", "cpus", "jvm")):
            return []  # env changed: multiplicative host shift, not code
        prior = set(parsed.get("regressions", {})) | set(
            parsed.get("regressions_drift_suspect", {})
        )
        survivors &= {
            n for n in prior if _adjudicated_round(adjudicated.get(n, -1)) < rnd
        }
    return sorted(survivors)


def _env_match_prev(payload: dict) -> bool | None:
    """True/False if the newest recorded round carries a COMPLETE
    environment fingerprint and it does/doesn't match this run; None when
    the previous record predates fingerprinting (r5 and earlier) or is
    missing any fingerprint key (env-unknown — same conservative posture
    as ``_persistent_flags``, r16 advice)."""
    recorded = sorted(REPO.glob("BENCH_r*.json"), reverse=True)
    if not recorded:
        return None
    try:
        prev = json.loads(recorded[0].read_text()).get("parsed") or {}
    except (OSError, ValueError):
        return None
    if any(k not in prev for k in ("pyspark", "cpus", "jvm")):
        return None
    return all(prev.get(k) == payload.get(k) for k in ("pyspark", "cpus", "jvm"))


def _recorded_queries(path: Path) -> dict[str, float]:
    """Per-query timings from one recorded BENCH_r{N}.json — parsed JSON
    when the recorder managed to parse it, else pairs regex-recovered from
    the truncated tail (r2's line overflowed the tail window)."""
    try:
        raw = json.loads(path.read_text())
    except (OSError, ValueError):
        return {}
    parsed = raw.get("parsed")
    if isinstance(parsed, dict) and parsed.get("queries"):
        return dict(parsed["queries"])
    out: dict[str, float] = {}
    for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', raw.get("tail", "")):
        name, val = m.group(1), float(m.group(2))
        if name not in ("value", "value_net", "sf", "baseline", "now", "prev_value"):
            out[name] = val
    return out


def _baseline() -> tuple[str, dict[str, float]]:
    """(label, per-query baseline): newest COMPLETE record first —
    BENCH_DETAIL.json carries every query's timing from the most recent
    run (the stdout line folds cheap queries into ``_other``, so
    BENCH_r{N}.json alone loses their individual values) — then
    BENCH_r*.json newest-first for anything the detail file is missing.

    Rationale (r7 post-mortem of the 4 flagged "regressions"): folding
    made the per-query baselines for cheap queries permanently stale —
    frozen at a round when far fewer queries were registered, so the
    suite's growing fixed overhead (plan-compile, codegen-cache churn
    across 171 plans) read as per-query regressions. A lean-session
    profile of all four recovered steady-state times at or near their
    old baselines, confirming session pressure, not operator drift. The
    guard's job is catching OPERATOR regressions round-over-round;
    comparing against the newest complete observation does that without
    re-flagging the same fixed-overhead delta every round."""
    recorded = sorted(REPO.glob("BENCH_r*.json"), reverse=True)
    merged: dict[str, float] = {}
    label = recorded[0].name if recorded else ""
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        run_sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    except ValueError:
        run_sf = None
    try:
        detail = json.loads(DETAIL_PATH.read_text())
        # only a SAME-scale-factor detail record is a valid baseline (a
        # local debug run at another sf would otherwise poison the guard);
        # both sides must be KNOWN — an unparseable sf dir (run_sf None)
        # and a detail record missing its "sf" key would otherwise admit
        # each other via None == None (r8 advice #4)
        if (
            isinstance(detail.get("queries"), dict)
            and run_sf is not None
            and detail.get("sf") is not None
            and detail.get("sf") == run_sf
        ):
            merged.update(detail["queries"])
            label = f"{DETAIL_PATH.name}+{label}" if label else DETAIL_PATH.name
    except (OSError, ValueError):
        pass
    for p in recorded:
        # same sf guard as the detail record: BENCH_r*.json are always
        # driver runs at sf0.1, so a local debug run at another sf must
        # not compare against them (it flagged phantom "regressions"
        # when smoke-testing at sf0.001)
        try:
            rec_sf = json.loads(p.read_text()).get("parsed", {}).get("sf")
        except (OSError, ValueError, AttributeError):
            rec_sf = None
        if run_sf is not None and rec_sf is not None and rec_sf != run_sf:
            continue
        for k, v in _recorded_queries(p).items():
            merged.setdefault(k, v)
    return label, merged


def _common_with_prev(timings: dict[str, float]) -> dict:
    """Like-for-like subtotal vs the previous round: the suite grows every
    round, so whole-suite totals aren't comparable across rounds — this
    sums only the queries present in BOTH runs, alongside the previous
    round's subtotal over the same keys."""
    prev_name, prev_q = _baseline()
    shared = sorted(set(timings) & set(prev_q))
    if not shared:
        return {}
    return {
        "prev_file": prev_name,
        "n_queries": len(shared),
        "value": round(sum(timings[q] for q in shared), 3),
        "prev_value": round(sum(prev_q[q] for q in shared), 3),
    }


def _regressions(timings: dict[str, float]) -> dict[str, dict[str, float]]:
    """Per-query guard against the recorded baseline (newest recorded
    round back-filled with older ones, so the bar ratchets forward):
    flag anything >1.5x its baseline with >0.3s absolute slack so
    additions can't silently regress established numbers. Exit code
    stays 0 unless SPARK_GRAFT_BENCH_STRICT is set (the driver
    records rc)."""
    override = os.getenv("SPARK_GRAFT_BENCH_BASELINE")
    if override:
        try:
            raw = json.loads(Path(override).read_text())
            base_q = (raw.get("parsed") or raw).get("queries", {})
        except (OSError, ValueError):
            return {}
    else:
        _, base_q = _baseline()
    out = {}
    for name, now in timings.items():
        base = base_q.get(name)
        if base and now > base * 1.5 and now - base > 0.3:
            out[name] = {"baseline": base, "now": now}
    return out


if __name__ == "__main__":
    main()
