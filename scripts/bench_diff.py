"""Round-over-round bench comparison (VERDICT r4 #5).

Diffs the current ``BENCH_DETAILS.json`` against the most recent
prior round's per-query numbers, flagging any query whose wall clock
OR shuffle-write bytes grew beyond the regression threshold (default
1.3x). Wall-clock baselines come from ``BENCH_r*.json`` (per-query
seconds — always present). Shuffle-byte baselines are SELF-PRIMING:
each run stores the current per-query shuffle bytes in
``BENCH_DIFF.json``'s ``details_snapshot``; the next run diffs
against that (a shuffle regression with flat wall clock — e.g. a
lost broadcast — then flags even though BENCH_r*.json carries no
byte counts).

Usage:
    python scripts/bench_diff.py                    # newest vs previous
    python scripts/bench_diff.py --threshold 1.5
    python scripts/bench_diff.py --write BENCH_DIFF.json

Exit code: 0 always (the diff is a report, not a gate) — the flagged
list is what the round report cites.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import DRIFT_BOUND  # noqa: E402


def load_round_timings() -> tuple[dict[int, dict[str, float]],
                                  dict[int, tuple[float, float | None]]]:
    """Per-query seconds (and the machine-epoch ``calib_sec`` stamp,
    where the round recorded one) from every BENCH_r*.json that
    parsed."""
    rounds: dict[int, dict[str, float]] = {}
    calibs: dict[int, tuple[float, float | None]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json"))):
        rnum = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        try:
            doc = json.load(open(path))
        except Exception:
            continue
        line = doc.get("parsed") or doc
        queries = line.get("queries")
        if not queries:
            # the driver stores the final stdout line under "tail"
            tail = doc.get("tail", "")
            m = re.search(r'\{"metric".*\}', tail)
            if m:
                try:
                    line = json.loads(m.group(0))
                    queries = line.get("queries")
                except Exception:
                    queries = None
        if queries:
            rounds[rnum] = {k: float(v) for k, v in queries.items()}
            # rounds up to r14 stamp (calib_sec, calib_par_sec); later
            # lines carry only the parallel pre/post pair
            par = line.get("calib_par_sec") or min(
                line.get("calib_par_pre") or 0, line.get("calib_par_post") or 0)
            if line.get("calib_sec") or par:
                calibs[rnum] = (line.get("calib_sec"), par or None)
    return rounds, calibs


def load_details(path: str):
    try:
        doc = json.load(open(path))
        calib = ((doc["calib_sec"], doc.get("calib_par_sec"))
                 if doc.get("calib_sec") else None)
        return doc.get("query_details", {}), calib, bool(doc.get("drift"))
    except Exception:
        return {}, None, False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=float, default=1.3,
                    help="flag ratios above this (sec and shuffle bytes)")
    ap.add_argument("--current", default=os.path.join(ROOT, "BENCH_DETAILS.json"),
                    help="current details sidecar (sec + shuffle bytes)")
    ap.add_argument("--write", default=os.path.join(ROOT, "BENCH_DIFF.json"),
                    help="where to write the machine-readable diff")
    args = ap.parse_args()

    rounds, calibs = load_round_timings()
    cur_details, cur_calib, run_drift = load_details(args.current)
    cur = {n: d.get("sec_timed_pass") for n, d in cur_details.items()
           if d.get("sec_timed_pass") is not None}
    if not cur and rounds:
        # no local details yet: compare the two newest driver rounds
        newest = max(rounds)
        cur = rounds.pop(newest)
        cur_calib = calibs.get(newest)
        print(f"(no BENCH_DETAILS.json — diffing round {newest} "
              "against its predecessor)")
    if not cur:
        print("nothing to diff: no current bench numbers found")
        return 0

    prior_round = max(rounds) if rounds else None
    prior = rounds.get(prior_round, {})

    # machine-epoch gate (verdict-r9 #5): when BOTH sides carry a
    # calibration stamp and the machine speed moved more than the
    # drift bound, wall-clock ratios say nothing about the plans —
    # r8 and r9 each burned a round on exactly these phantom flags.
    # The PARALLEL axis dominates: co-tenancy steals cores, so the
    # 16-thread fingerprint moves while the single-thread one stays
    # flat (proven by two same-session r10 runs). A run whose own
    # pre/post samples disagree (``drift``) is refused the same way.
    # Shuffle/spill comparisons are machine-independent and stay on.
    prior_calib = calibs.get(prior_round)
    drift_ratio = None
    machine_drift = False
    if cur_calib and prior_calib:
        ratios = [max(a, b) / min(a, b)
                  for a, b in zip(cur_calib, prior_calib)
                  if a and b]
        drift_ratio = round(max(ratios), 3) if ratios else None
        machine_drift = bool(drift_ratio) and drift_ratio > DRIFT_BOUND
    machine_drift = machine_drift or run_drift

    flagged, improved, first_time = [], [], []
    for name, sec in sorted(cur.items()):
        if name not in prior:
            first_time.append(name)
            continue
        base = prior[name]
        ratio = sec / base if base else float("inf")
        row = {"query": name, "sec": sec, f"sec_r{prior_round}": base,
               "ratio": round(ratio, 2)}
        if ratio > args.threshold:
            flagged.append(row)
        elif ratio < 1 / args.threshold:
            improved.append(row)

    # shuffle-write bytes vs the PREVIOUS diff's snapshot (self-primed)
    shuffle_flagged = []
    prev_snap = {}
    try:
        prev_snap = json.load(open(args.write)).get("details_snapshot", {})
    except Exception:
        pass
    for name, d in sorted(cur_details.items()):
        b = d.get("shuffle_write_bytes")
        pb = (prev_snap.get(name) or {}).get("shuffle_write_bytes")
        if b is None or not pb:
            continue
        ratio = b / pb
        if ratio > args.threshold:
            shuffle_flagged.append({
                "query": name, "shuffle_write_bytes": b,
                "prev_shuffle_write_bytes": pb, "ratio": round(ratio, 2)})

    # spill + peak-memory vs the previous snapshot (verdict-r6 #8):
    # spill appearing where there was none is the strongest
    # machine-independent signal that a partition outgrew execution
    # memory — exactly what breaks first at a 100x scale-up
    spill_flagged = []
    for name, d in sorted(cur_details.items()):
        sp = (d.get("memory_spill_bytes") or 0) + (
            d.get("disk_spill_bytes") or 0)
        prev = prev_snap.get(name) or {}
        if "memory_spill_bytes" not in prev:
            continue  # snapshot predates the spill columns
        psp = (prev.get("memory_spill_bytes") or 0) + (
            prev.get("disk_spill_bytes") or 0)
        if (psp == 0 and sp > 0) or (psp > 0 and sp / psp > args.threshold):
            spill_flagged.append({
                "query": name, "spill_bytes": sp,
                "prev_spill_bytes": psp,
                "peak_execution_memory": d.get("peak_execution_memory")})

    if machine_drift:
        # refuse the wall comparison instead of reporting phantoms;
        # the rows are preserved for inspection under a name that
        # cannot be mistaken for plan regressions
        suppressed = {"flagged": flagged, "improved": improved}
        flagged, improved = [], []

    out = {
        "prior_round": prior_round,
        "threshold": args.threshold,
        "calib": cur_calib,  # (single-thread sec, 16-thread sec)
        # only stamp the prior round's calibration when one exists —
        # a first round would otherwise emit a literal "calib_rNone"
        **({f"calib_r{prior_round}": prior_calib}
           if prior_round is not None else {}),
        "machine_drift_ratio": drift_ratio,
        "machine_drift": machine_drift,
        "n_compared": len(cur) - len(first_time),
        "timing_method": "min_of_2",
        "flagged": flagged,
        "improved": improved,
        "shuffle_flagged": shuffle_flagged,
        "spill_flagged": spill_flagged,
        "first_time": sorted(first_time),
        "details_snapshot": {
            n: {"sec": d.get("sec_timed_pass"),
                "shuffle_write_bytes": d.get("shuffle_write_bytes"),
                "memory_spill_bytes": d.get("memory_spill_bytes"),
                "disk_spill_bytes": d.get("disk_spill_bytes"),
                "peak_execution_memory": d.get("peak_execution_memory")}
            for n, d in cur_details.items()},
    }
    if machine_drift:
        out["wall_flags_suppressed_machine_drift"] = suppressed
        out["note_drift"] = (
            f"machine calibration moved {drift_ratio}x between rounds "
            f"(in-run drift: {run_drift}; bound {DRIFT_BOUND}) — "
            "wall-clock flags suppressed; shuffle/spill axes remain "
            "authoritative")
    with open(args.write, "w") as f:
        json.dump(out, f, indent=1)

    print(f"compared {out['n_compared']} queries vs round {prior_round} "
          f"(threshold {args.threshold}x); "
          f"{len(first_time)} first-timers: {', '.join(first_time) or '-'}")
    if "note_drift" in out:
        print(f"  MACHINE DRIFT: {out['note_drift']}")
    for row in flagged:
        print(f"  REGRESSED {row['query']}: {row[f'sec_r{prior_round}']}s -> "
              f"{row['sec']}s ({row['ratio']}x)")
    for row in shuffle_flagged:
        print(f"  SHUFFLE GREW {row['query']}: "
              f"{row['prev_shuffle_write_bytes']} -> "
              f"{row['shuffle_write_bytes']} bytes ({row['ratio']}x)")
    for row in spill_flagged:
        print(f"  SPILL GREW {row['query']}: {row['prev_spill_bytes']} -> "
              f"{row['spill_bytes']} bytes "
              f"(peak_mem={row['peak_execution_memory']})")
    for row in improved:
        print(f"  improved  {row['query']}: {row[f'sec_r{prior_round}']}s -> "
              f"{row['sec']}s ({row['ratio']}x)")
    if not flagged and not shuffle_flagged and not spill_flagged:
        print("  no regressions above threshold")
    return 0


if __name__ == "__main__":
    sys.exit(main())
