"""Cross-round bench comparison with the regime notes applied.

BENCH_r{N}.json artifacts span several measurement regimes, and naive
round-over-round diffs have repeatedly misread them (the r04 host
slowdown, the r07→r08 cold creep, the r09 pass-3 contamination — see
SCALE_NOTES). This tool prints one row per round from the driver's
parsed bench line, annotating each with its regime so the comparable
columns are explicit:

- warm per-query timing: single-shot through r07, median-of-3 from r08
  (``warm_repeats`` present), degraded-pass-filtered from r10
  (``warm_degraded_passes`` present);
- extended panel: single-shot r05–r08, median-of-3 from r09;
- normalization: ``value_normalized`` (single end-of-capture canary,
  r04–r11; retired in r12 per VERDICT r11 #4) is vulnerable to
  intra-capture drift; prefer ``value_normalized_perpass`` (r10+,
  ~1.3% repeatable vs 13–18% for the raw/single-canary figures —
  SCALE_NOTES r10), comparing only within one ``canary_regime``
  (single-shot through r10, min-of-2 from r11).

Usage: python tools/bench_history.py  (no Spark; reads repo-root JSON)
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import round_of


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = []
    # sort by PARSED round, not lexically — r100 sorts before r11
    # lexically, which would scramble the printed history (ADVICE r13);
    # round_of is the one shared parser so the logic can't drift
    # between tools (ADVICE r14); a capture suffix (BENCH_r19_c8.json)
    # stays in the row label and sorts after its round's main capture
    paths = glob.glob(os.path.join(root, "BENCH_r*.json"))
    for path in sorted(paths, key=lambda p: (round_of(p), p)):
        label = os.path.basename(path)[len("BENCH_"):-len(".json")]
        with open(path) as f:
            art = json.load(f)
        p = art.get("parsed")
        if not p:
            rows.append((label, None))
            continue
        regime = []
        if p.get("warm_repeats"):
            regime.append(f"warm med{p['warm_repeats']}")
        else:
            regime.append("warm 1shot")
        if p.get("extended_repeats"):
            regime.append(f"ext med{p['extended_repeats']}")
        elif "extended_total" in p:
            regime.append("ext 1shot")
        if "warm_degraded_passes" in p:
            regime.append("degraded:" + str(p["warm_degraded_passes"]))
        if p.get("warm_pass_n_common") is not None:
            # perpass numerator set size (r11+, ADVICE r10): compare
            # across rounds before comparing norm/pass — a shrunken
            # always-successful set reads as a spurious improvement
            regime.append(f"n_common:{p['warm_pass_n_common']}")
        if p.get("cold_calibration") is not None:
            regime.append("coldcal")
        if p.get("canary_regime"):
            # perpass levels are only comparable within one canary
            # regime (r10 single-shot vs r11+ min-of-2 — SCALE_NOTES)
            regime.append(f"canary:{p['canary_regime']}")
        elif p.get("value_normalized_perpass") is not None:
            # pre-r11 payloads carry perpass but no regime marker; tag
            # them explicitly so the regime break is visible on BOTH
            # sides of the r10→r11 line (ADVICE r11 — absence should
            # not have to be decoded as "single-shot")
            regime.append("canary:1shot")
        rows.append((label, p, ", ".join(regime)))

    print(
        "| round | warm (s) | ±spread | norm | norm/pass | cold (s) | "
        "ext (s) | ext cold | errs | regime |"
    )
    print("|---" * 10 + "|")
    for row in rows:
        if row[1] is None:
            print(f"| {row[0]} | — unparsed (see artifact tail) "
                  + "| — " * 8 + "|")
            continue
        label, p, regime = row
        fmt = lambda v: ("—" if v is None else f"{v}")  # noqa: E731
        errs = sum(
            p.get(k, 0)
            for k in ("n_errors", "n_errors_cold", "n_errors_extended",
                      "n_errors_extended_cold")
        )
        print(
            f"| {label} | {fmt(p.get('value'))} |"
            f" {fmt(p.get('warm_spread_sec'))} |"
            f" {fmt(p.get('value_normalized'))} |"
            f" {fmt(p.get('value_normalized_perpass'))} |"
            f" {fmt(p.get('cold_total'))} |"
            f" {fmt(p.get('extended_total'))} |"
            f" {fmt(p.get('extended_cold_total'))} |"
            f" {errs} | {regime} |"
        )
    print()
    # Cross-round min2 perpass band (VERDICT r12/r13 track this by hand):
    # min/max of value_normalized_perpass over min2-regime DRIVER rounds
    # only — session captures live in SCALE_NOTES prose and are not
    # mixed in here, so the band is artifact-reproducible. r14 revision:
    # three same-session captures on identical plans spanned 187-262
    # perpass while raw warm held ±4.5% (SCALE_NOTES r14 finding 4), so
    # the band is the INSTRUMENT's error bar, not an engine envelope —
    # a round outside it triggers "check raw warm + the anchor pairing
    # first", not "engine regression". Suffixed captures (r19_c8: the
    # same round at 8 cores) are a different host shape and stay out.
    min2 = [
        (label, p["value_normalized_perpass"])
        for label, p, *_ in (r for r in rows if r[1] is not None)
        if p.get("canary_regime") == "min2"
        and "_" not in label
        and p.get("value_normalized_perpass") is not None
    ]
    if min2:
        vals = [v for _, v in min2]
        lo, hi = min(vals), max(vals)
        mid = (lo + hi) / 2
        print(
            f"min2 perpass band (driver artifacts only, {len(min2)} rounds "
            f"{', '.join(r for r, _ in min2)}): "
            f"{lo:.1f}-{hi:.1f} (±{(hi - lo) / 2 / mid:.1%} about the midpoint)"
        )
        print()
    print(
        "Caveats applied from SCALE_NOTES: r04 +45% and r08-cold +21% are "
        "host drift (canary-attributed); r09 warm is pass-3-contaminated "
        "(within its own ±5.3s bar); cross-regime warm deltas "
        "(r07→r08, r08→r09 extended) are not like-for-like; norm/pass "
        "corrects sustained drift but its ~100 ms canary denominator is "
        "burst-dominated (r14: same-session perpass spanned 187-262 on "
        "identical plans while raw warm held ±4.5%) — the r14+ headline "
        "is raw warm ± spread bracketed by tools/canary_anchor.py "
        "readings; perpass is a sustained-drift diagnostic only."
    )


if __name__ == "__main__":
    main()
