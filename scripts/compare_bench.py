#!/usr/bin/env python3
"""Compare graft.Bench runs, parent against change, artifact to artifact.

Usage: compare_bench.py --parent P.json [P2.json ...] --change C.json [C2.json ...]
                        [--threshold 1.10]

Each side pools every row's samples over its artifacts (bench_full.json
files): the per-pass samples under `passes` and the cold front builds
under `front_build`. A row's figure on a side is the median of its pooled
samples. The script prints each side's total (the sum of the row medians
over the rows timed on both sides) and every such row's change/parent
ratio of medians. It then counts and lists the rows more than `threshold`
times slower and more than `threshold` times faster, the rows with fewer
than two pooled samples on either side (one sample cannot tell a move from
noise, so these stay out of the slower and faster counts), the rows that
errored on either side (listed in an artifact's `errors`, or run without a
single sample), and the rows that only one side ran.
"""
import argparse
import json
import statistics


def pooled(paths):
    """(samples per row, rows that errored in any artifact, row names)."""
    samples, errored, names = {}, set(), set()
    for path in paths:
        with open(path) as f:
            doc = json.load(f)
        errored.update(doc.get("errors", []))
        for run in [doc.get("front_build", {})] + doc.get("passes", []):
            for row, secs in run.items():
                samples.setdefault(row, []).append(secs)
        names.update(doc.get("queries", {}))
    return samples, errored, names | errored | set(samples)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", nargs="+", required=True, metavar="P.json")
    ap.add_argument("--change", nargs="+", required=True, metavar="C.json")
    ap.add_argument("--threshold", type=float, default=1.10)
    args = ap.parse_args()
    if args.threshold < 1.0:
        ap.error("--threshold must be at least 1.0")

    p_samples, p_err, p_names = pooled(args.parent)
    c_samples, c_err, c_names = pooled(args.change)
    p_med = {r: statistics.median(s) for r, s in p_samples.items()}
    c_med = {r: statistics.median(s) for r, s in c_samples.items()}
    p_bad = p_err | (p_names - set(p_med))
    c_bad = c_err | (c_names - set(c_med))
    common = sorted(set(p_med) & set(c_med))

    p_tot = sum(p_med[r] for r in common)
    c_tot = sum(c_med[r] for r in common)
    print(f"parent: {len(args.parent)} artifact(s), {len(p_names)} rows; "
          f"change: {len(args.change)} artifact(s), {len(c_names)} rows")
    ratio = f" (ratio {c_tot / p_tot:.3f})" if p_tot > 0 else ""
    print(f"total over {len(common)} rows timed on both sides: "
          f"parent {p_tot:.2f} s, change {c_tot:.2f} s{ratio}")

    ratios = {r: c_med[r] / p_med[r] if p_med[r] > 0 else float("inf")
              for r in common}
    print("row ratios (change/parent, medians in s):")
    for r in common:
        print(f"  {r}: {p_med[r]:.3f} -> {c_med[r]:.3f} ({ratios[r]:.2f})")

    single = [r for r in common if min(len(p_samples[r]), len(c_samples[r])) < 2]
    resolved = [r for r in common if r not in single]
    slower = sorted((r for r in resolved if ratios[r] > args.threshold),
                    key=lambda r: -ratios[r])
    faster = sorted((r for r in resolved if ratios[r] * args.threshold < 1.0),
                    key=lambda r: ratios[r])
    for label, rows in ((f"rows more than {args.threshold}x slower", slower),
                        (f"rows more than {args.threshold}x faster", faster),
                        ("single-sample rows (unresolved)", single)):
        print(f"{label}: {len(rows)}")
        for r in rows:
            print(f"  {r}: {p_med[r]:.3f} -> {c_med[r]:.3f} ({ratios[r]:.2f})")
    errored = sorted(p_bad | c_bad)
    print(f"rows errored on either side: {len(errored)}")
    for r in errored:
        sides = [side for side, bad in (("parent", p_bad), ("change", c_bad)) if r in bad]
        print(f"  {r} ({', '.join(sides)})")
    one_side = sorted(p_names ^ c_names)
    print(f"rows run on one side only: {len(one_side)}")
    for r in one_side:
        print(f"  {r} ({'parent' if r in p_names else 'change'})")


if __name__ == "__main__":
    main()
