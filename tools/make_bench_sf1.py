#!/usr/bin/env python3
"""Assemble docs/BENCH_SF1.json from a BENCH_DETAIL.json (Spark side, run
with SPARK_GRAFT_SF_DIR=<sf1 dir>) and ORACLE_BENCH.json (DuckDB side,
tools/bench_oracle.py on the same dir), with:

- the suite pair totals + ratio,
- the >2x-and->0.5s weak list (the per-round adjudication queue),
- for the stream gates with measured trigger-amortization cells
  (docs/STREAM_AMORTIZATION.json): `amortized_ratio` = raw ratio divided
  by the measured per-row-cost drop at 10x rows/trigger — the ratio the
  gate would show if production triggers carried 10x the rows, making
  the per-trigger-protocol floor visible in the artifact itself instead
  of re-arguing it each round.

Usage: make_bench_sf1.py <BENCH_DETAIL.json> <ORACLE_BENCH.json> <protocol-note>
"""
import json
import sys

bench = json.load(open(sys.argv[1]))
oracle = json.load(open(sys.argv[2]))
protocol = sys.argv[3] if len(sys.argv) > 3 else ""

qs = bench["queries"]
qo = oracle["queries"]
missing = sorted(set(qs) ^ set(qo))
if missing:
    sys.exit(f"query sets differ: {missing}")

spark_total = round(sum(v for v in qs.values() if v >= 0), 1)
oracle_total = oracle["value"]

weak = []
for q in sorted(qs, key=lambda q: -qs[q]):
    s, o = qs[q], qo[q]
    if s > 0.5 and o > 0 and s / o > 2.0:
        weak.append({"query": q, "spark": round(s, 2), "oracle": round(o, 4),
                     "ratio": round(s / o, 2)})

amort = {}
try:
    cells = json.load(open("docs/STREAM_AMORTIZATION.json"))["cells"]
    per = {}
    for c in cells:
        per.setdefault(c["gate"], {})[c["sf"]] = (c["ns_per_row"], c["rows"])
    for gate, d in per.items():
        if "sf0.1" in d and len(d) > 1 and gate in qs and qo.get(gate, 0) > 0:
            # amortize against the curve's MINIMUM per-row cost — the
            # best measured operating point (r17: the attribution curve
            # is U-shaped on this box, 675 ns/row at sf10 triggers but
            # 931 at sf100 where state pressure bites; a deployment
            # sizes triggers near the minimum, and crediting the
            # largest trigger would let a degrading tail hide it)
            best = min(d, key=lambda k: d[k][0])
            drop = d["sf0.1"][0] / d[best][0]
            scale = d[best][1] // d["sf0.1"][1]
            amort[gate] = {
                "raw_ratio": round(qs[gate] / qo[gate], 2),
                f"per_row_cost_drop_at_{scale}x_rows_per_trigger": round(drop, 2),
                "amortized_ratio": round(qs[gate] / qo[gate] / drop, 2),
                "curve_ns_per_row": {sf: d[sf][0] for sf in sorted(d, key=lambda k: d[k][1])},
                "source": "docs/STREAM_AMORTIZATION.json",
            }
except FileNotFoundError:
    pass

out = {
    "metric": "sf1_pair",
    "spark_sec": spark_total,
    "oracle_sec": oracle_total,
    "ratio": round(spark_total / oracle_total, 3),
    "sf": "sf1_local (10x sf0.1: 6M lineitem / 1M events / 50k documents)",
    "n_queries": len(qs),
    "spark_runs_per_query": bench["env"]["runs_per_query"],
    "oracle_reps": oracle["reps"],
    "spark_env": bench["env"],
    "oracle_measured_at": oracle["measured_at"],
    "protocol": protocol,
    "stream_amortized": amort,
    "worst_ratio_over_2x_and_0p5s": weak,
    "queries_spark": {q: round(v, 3) for q, v in sorted(qs.items())},
    "queries_oracle": {q: round(v, 4) for q, v in sorted(qo.items())},
}
with open("docs/BENCH_SF1.json", "w") as f:
    json.dump(out, f)
print(f"sf1 pair: spark {spark_total} s vs duckdb {oracle_total} s = "
      f"{spark_total / oracle_total:.3f}x; weak entries: {len(weak)}")
