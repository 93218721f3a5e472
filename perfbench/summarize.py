#!/usr/bin/env python3
"""Summarize the kept run records (`perfbench/out/*.json`).

    python3 perfbench/summarize.py [record.json ...]

For every workload it prints each layer's self time (a span's duration
minus the part of it that its child spans cover, summed per layer and
averaged over the traced runs) over the whole run and over the timed
passes alone, each with its share, and the tracing overhead: the traced
minus the untraced median of every end-to-end and user metric.
"""
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

OUT = Path(__file__).resolve().parent / "out"


def self_times(r):
    """(whole run, timed passes) self time by layer of one traced record."""
    sp = r["result"]["spans"]
    return (metrics.self_time_by_layer(sp),
            metrics.self_time_by_layer(sp, r["timed_start"], r["timed_end"]))


def main(paths):
    recs = [json.loads(Path(p).read_text()) for p in paths or sorted(OUT.glob("*.json"))]
    if not recs:
        raise SystemExit(f"no run records under {OUT}")
    for w in sorted({r["workload"] for r in recs}):
        traced = [r for r in recs if r["workload"] == w and r["trace"]]
        plain = [r for r in recs if r["workload"] == w and not r["trace"]]
        print(f"== {w}: {len(plain)} untraced, {len(traced)} traced runs ==")
        if traced:
            st = [self_times(r) for r in traced]
            layers = sorted({k for w_, t_ in st for k in w_})
            whole = {k: statistics.mean(w_.get(k, 0.0) for w_, _ in st) for k in layers}
            timed = {k: statistics.mean(t_.get(k, 0.0) for _, t_ in st) for k in layers}
            tw, tt = sum(whole.values()) or 1.0, sum(timed.values()) or 1.0
            print(f"{'layer':<12} {'run s':>9} {'share':>7} {'timed s':>9} {'share':>7}")
            for k in sorted(layers, key=lambda k: -whole[k]):
                print(f"{k:<12} {whole[k]:>9.3f} {whole[k] / tw:>7.1%} "
                      f"{timed[k]:>9.3f} {timed[k] / tt:>7.1%}")
        if traced and plain:
            print(f"{'metric':<24} {'untraced':>12} {'traced':>12} {'overhead':>9}")
            res = plain[0]["result"]
            for group, k in [("e2e", k) for k in res["e2e"]] + [
                    ("user", k) for k in res["user"] if k not in res["e2e"]]:
                a = statistics.median(r["result"][group][k][0] for r in plain)
                b = statistics.median(r["result"][group][k][0] for r in traced)
                rel = (b - a) / a if a else 0.0
                print(f"{k:<24} {a:>12.5g} {b:>12.5g} {rel:>+9.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
