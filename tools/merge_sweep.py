#!/usr/bin/env python3
"""Merge two Prof sweep logs (sf0.1 and sf1) into docs/SF1_SWEEP.tsv.

Usage: merge_sweep.py <sf01.log> <sf1.log> [out.tsv]
Parses the `PROF <name> wall=.. min=.. max=..` lines that
`graft.tools.Prof <reps> <query>...` prints (wall = build + count, the
Bench action).
"""
import re, sys

PAT = re.compile(r"PROF (\S+)\s+wall=\s*([\d.]+)\s+min=\s*([\d.]+)\s+max=\s*([\d.]+)")

def parse(path):
    out = {}
    for line in open(path):
        m = PAT.search(line)
        if m:
            out[m.group(1)] = tuple(float(x) for x in m.group(2, 3, 4))
    return out

def main():
    a, b = parse(sys.argv[1]), parse(sys.argv[2])
    out = sys.argv[3] if len(sys.argv) > 3 else "docs/SF1_SWEEP.tsv"
    missing = sorted(set(a) ^ set(b))
    if missing:
        sys.exit(f"query sets differ: {missing}")
    with open(out, "w") as f:
        f.write("query\tsf0_1_median_s\tsf1_median_s\tfactor\tsf1_min_s\tsf1_max_s\n")
        worst = (0.0, None)
        for q in sorted(a):
            m01, m1 = a[q][0], b[q][0]
            fac = m1 / m01 if m01 > 0 else float("inf")
            if fac > worst[0]:
                worst = (fac, q)
            f.write(f"{q}\t{m01:.3f}\t{m1:.3f}\t{fac:.2f}\t{b[q][1]:.3f}\t{b[q][2]:.3f}\n")
    print(f"wrote {out} ({len(a)} queries); worst factor {worst[0]:.2f}x ({worst[1]})")

if __name__ == "__main__":
    main()
