#!/usr/bin/env python3
"""Mechanized bench adjudication: compare a round's BENCH_rN.json per-query
times against the checked-in bands file and emit the in-band / regressed
table that NOTES used to hand-write.

Usage:
  python3 tools/bench_adjudicate.py BENCH_r14.json            # adjudicate
  python3 tools/bench_adjudicate.py --raw BENCH_r14.json      # no normalize
  python3 tools/bench_adjudicate.py --rebuild run1.json run2.json ...
      # refresh bands (quiet-window runs ONLY — see below)

Band semantics (tools/bench_bands.json):
  {query: {"lo": s, "hi": s, "pin": s?, "note": str?}}
  - lo/hi: the min/max QUIET-WINDOW seconds observed across the rebuild
    inputs, widened to contain any quiet isolated pin ("pin", the min-of-5
    run-alone number NOTES records — the reference when host noise is
    suspected). Bands are quiet-only since r14: host-load noise is divided
    out at adjudication time instead of being baked into wide bands.
  - A query REGRESSES when its (load-normalized) time exceeds hi * 1.2
    (the threshold the judge grades at); between hi and hi*1.2 it is WATCH
    (compare against the pin); below lo*0.8 it IMPROVED (refresh the band
    so future drift is visible).

Load normalization: the host is a shared microVM whose windows inflate
every query together (r9: untouched queries drifted 1.2-1.7x in lockstep).
Since r14 the adjudicator estimates the window factor from CONTROL queries
— stable, code-rarely-touched gates with quiet isolated pins — as
median(t_control / pin_control), clamped to >= 1, and divides ALL times by
it before band comparison. A real single-query regression survives this
(controls don't move with it); a loaded window cancels out. --raw disables.

Exit code 1 when any query regresses, so a driver/CI wrapper surfaces it.

BENCH files come in two shapes: the driver's wrapper
({"tail": "<truncated stdout>", "parsed": null, ...}) where per-query
times must be regexed out of the (possibly mid-number truncated) tail, and
a raw one-line {"queries": {...}} JSON. Both are handled; a query whose
number was cut by the truncation is dropped, never misparsed. When the
wrapper's tail is truncated, graft.Bench's complete sidecar
(BENCH_FULL.json next to the wrapper) is preferred AFTER cross-checking
that every query surviving in the tail agrees with it — a stale sidecar
from another run never silently substitutes.
"""
import json
import os
import re
import statistics
import sys
from decimal import ROUND_HALF_UP, Decimal

BANDS_PATH = __file__.rsplit("/", 1)[0] + "/bench_bands.json"
QUERY_RE = re.compile(r'"(q[_0-9a-zA-Z]+)":([0-9]+\.[0-9]+)[,}]')
# stable scan/sort-shaped gates in files that rarely change; each carries a
# quiet isolated pin in the bands file
CONTROLS = ["q_sort", "q_dsv2_scan", "q_ktk_pushdown"]
SIDECAR = "BENCH_FULL.json"
MILLI = Decimal("0.001")


def java_3f(x):
    """`x` rounded the way graft.Bench prints it: Java's %.3f rounds the
    shortest decimal form of the double HALF_UP."""
    return Decimal(repr(x)).quantize(MILLI, ROUND_HALF_UP)


def same_run(printed, x):
    """Does the tail's printed value come from the sidecar's full-precision
    `x`? Exact equality after rounding `x` like the printer did; tails from
    before the 3-decimal format printed the double itself."""
    d = Decimal(printed)
    if -d.as_tuple().exponent > 3:
        return float(printed) == x
    return d == java_3f(x)


def load_times(path):
    with open(path) as f:
        data = json.load(f)
    if isinstance(data, dict) and isinstance(data.get("queries"), dict):
        return {k: float(v) for k, v in data["queries"].items()}
    parsed = data.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        return {k: float(v) for k, v in parsed["queries"].items()}
    tail = data.get("tail", "")
    # trailing [,}] in the regex rejects numbers cut mid-digit by the
    # driver's tail truncation — a half number must drop, not misparse
    printed = {m.group(1): m.group(2) for m in QUERY_RE.finditer(tail)}
    times = {q: float(v) for q, v in printed.items()}
    # prefer Bench's complete sidecar over the truncated tail, but only
    # when every tail-surviving query matches it (same-run guard)
    side = os.path.join(os.path.dirname(path) or ".", SIDECAR)
    if os.path.exists(side):
        try:
            with open(side) as f:
                full = {k: float(v)
                        for k, v in json.load(f)["queries"].items()}
        except (json.JSONDecodeError, KeyError, ValueError):
            full = None
        if full:
            shared = set(times) & set(full)
            agree = shared and all(same_run(printed[q], full[q]) for q in shared)
            if agree and len(full) >= len(times):
                print(f"(using {SIDECAR}: {len(full)} queries; tail had "
                      f"{len(times)}, all {len(shared)} shared agree)")
                return full
            if not times:
                # a tail truncated so hard that NOTHING parsed carries no
                # evidence either way — the sidecar is the only record of
                # the run. Before adopting it, require a same-run signal
                # (r15 ADVICE: a crashed run plus a stale faster sidecar
                # would otherwise adjudicate old numbers as this run):
                # Bench writes the sidecar moments before the driver writes
                # its capture, so the sidecar must not be NEWER than the
                # capture and must fall within one run-window before it.
                try:
                    gap = os.path.getmtime(path) - os.path.getmtime(side)
                except OSError:
                    gap = None
                if gap is not None and -300 <= gap <= 6 * 3600:
                    print(f"WARNING: tail had zero parseable times — "
                          f"adopting {SIDECAR} ({len(full)} queries); "
                          f"mtime gap {gap:.0f}s is consistent with the "
                          f"same run")
                    return full
                print(f"REFUSING {SIDECAR}: tail had zero parseable times "
                      f"and the sidecar's mtime gap "
                      f"({'unknown' if gap is None else f'{gap:.0f}s'}) is "
                      f"outside the same-run window — likely a stale "
                      f"sidecar from an earlier run. Re-run Bench.")
                sys.exit(3)  # distinct 'unverified' status
            print(f"WARNING: {SIDECAR} disagrees with the tail or is "
                  f"smaller — ignoring it (stale run?)")
    return times


def window_factor(times, bands):
    """Host-load factor from the control queries, each measured against its
    QUIET-WINDOW floor (band lo, which since r14 is built from quiet runs
    only; an isolated pin can sit above the in-suite floor for scan-shaped
    micro queries, so the floor is min(lo, pin)). 1.0 when undeterminable.
    Clamped to >= 1 so a fast window never inflates anything."""
    def floor(q):
        b = bands.get(q, {})
        lo = b.get("lo")
        if lo is None:
            return None
        return min(lo, b["pin"]) if "pin" in b else lo
    ratios = {q: times[q] / floor(q)
              for q in CONTROLS if q in times and floor(q)}
    if not ratios:
        return 1.0, "no control bands — normalization skipped"
    f = statistics.median(list(ratios.values()))
    detail = ", ".join(f"{q}={r:.2f}x" for q, r in ratios.items())
    # Two of the three controls (q_dsv2_scan, q_ktk_pushdown) exercise
    # graft's own scan kernel: a code change that broadly slows that
    # kernel inflates them too and would be divided out as "host load".
    # Past 1.2x the median therefore needs CORROBORATION from the one
    # control that runs NO graft code (q_sort, pure Spark). If q_sort
    # does not confirm the window (>= 1.15x), clamp the factor to
    # q_sort's own ratio so a graft-wide kernel regression still
    # surfaces as REGRESSED instead of vanishing into normalization.
    if f > 1.2:
        pure = ratios.get("q_sort")
        if pure is None:
            return 1.0, (f"controls claim {f:.2f}x but the non-graft "
                         "control (q_sort) is missing — NOT normalizing; "
                         "rerun in a quiet window to adjudicate")
        if pure < 1.15:
            capped = max(1.0, pure)
            return capped, (
                f"controls: {detail} -> median {f:.2f}x UNCORROBORATED "
                f"(pure-Spark q_sort only {pure:.2f}x) — graft controls "
                f"inflated without host load: possible shared-kernel "
                f"regression. Factor clamped to q_sort's {capped:.3f}; "
                f"rerun in a quiet window before trusting any 'in band'")
    return max(1.0, f), f"controls: {detail} -> factor {max(1.0, f):.3f}"


def rebuild(paths):
    try:
        with open(BANDS_PATH) as f:
            old = json.load(f)
    except FileNotFoundError:
        old = {}
    allq = {}
    for p in paths:
        for q, t in load_times(p).items():
            allq.setdefault(q, []).append(t)
    bands = {}
    for q, ts in sorted(allq.items()):
        band = {"lo": round(min(ts), 3), "hi": round(max(ts), 3)}
        prev = old.get(q, {})
        if "pin" in prev:  # quiet isolated pins survive rebuilds
            band["pin"] = prev["pin"]
            band["lo"] = min(band["lo"], prev["pin"])
            band["hi"] = max(band["hi"], prev["pin"])
        if "note" in prev:
            band["note"] = prev["note"]
        bands[q] = band
    with open(BANDS_PATH, "w") as f:
        json.dump(bands, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(bands)} bands from {len(paths)} bench files "
          f"to {BANDS_PATH}")


def adjudicate(path, normalize=True):
    times = load_times(path)
    if not times:
        print(f"no per-query times parseable from {path}")
        return 2
    with open(BANDS_PATH) as f:
        bands = json.load(f)
    factor, note = (1.0, "--raw") if not normalize \
        else window_factor(times, bands)
    print(f"load normalization: {note}")
    rows = []
    for q, raw in sorted(times.items()):
        t = raw / factor
        b = bands.get(q)
        if b is None:
            rows.append((q, t, None, "NEW (no band — rebuild after review)"))
        # 1e-3 slack: band edges are rounded to 3 digits on rebuild
        elif t > b["hi"] * 1.2 + 1e-3:
            rows.append((q, t, b, f"REGRESSED {t / b['hi']:.2f}x over band"))
        elif t > b["hi"] + 1e-3:
            rows.append((q, t, b, f"watch ({t / b['hi']:.2f}x hi)"))
        # improved only when the RAW time is also below the floor:
        # dividing by an overestimated window factor must not manufacture
        # phantom improvements (REGRESSED/watch stay normalized — the
        # factor can only shrink those, never create them)
        elif t < b["lo"] * 0.8 and raw < b["lo"] * 0.8:
            rows.append((q, t, b, "improved"))
        else:
            rows.append((q, t, b, "in band"))
    order = {"R": 0, "N": 1, "w": 2, "i": 3}
    rows.sort(key=lambda r: (order.get(r[3][0], 4), r[0]))
    print(f"| query | sec (norm) | band | verdict |")
    print(f"|---|---|---|---|")
    interesting = 0
    for q, t, b, verdict in rows:
        if verdict == "in band":
            continue
        interesting += 1
        band = "—" if b is None else (
            f"{b['lo']}–{b['hi']}" + (f" (pin {b['pin']})" if "pin" in b else ""))
        print(f"| {q} | {t:.3f} | {band} | {verdict} |")
    inband = len(rows) - interesting
    regressed = [r for r in rows if r[3].startswith("REGRESSED")]
    print(f"\n{len(rows)} queries: {inband} in band, "
          f"{sum(1 for r in rows if r[3].startswith('improved'))} improved, "
          f"{sum(1 for r in rows if r[3].startswith('watch'))} watch, "
          f"{sum(1 for r in rows if r[3].startswith('NEW'))} new, "
          f"{len(regressed)} REGRESSED")
    if regressed:
        print("every REGRESSED entry needs a fix or a written adjudication "
              "in NOTES (quiet isolated pin beats a noisy driver window).")
    return 1 if regressed else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        sys.exit(2)
    if args[0] == "--rebuild":
        rebuild(args[1:])
        sys.exit(0)
    if args[0] == "--raw":
        sys.exit(adjudicate(args[1], normalize=False))
    sys.exit(adjudicate(args[0]))
