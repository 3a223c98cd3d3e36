#!/usr/bin/env python3
"""Seeded input generator of the benchmark.

Makes the inputs of one (workload, seed) in one process and caches them in
.bench_cache/<workload>-<seed>/ at the root of the checkout; the same seed
always gives the same files. Parameters come from perfbench/spec.json.

- mr_corpus: plain-text files of words drawn from a Zipf law over a
  vocabulary of random letter strings. The vocabulary comes from the fixed
  `vocabulary_seed`, so the hottest keys land in the same reduce partitions
  whatever the run's seed; file sizes are fixed by the parameters (one
  straggler file of `straggler_factor` times the mean, the rest spread
  linearly around it). The run's seed decides the text and which file is
  the straggler. The oracle
  outputs of the `wc` and `indexer` apps are computed here, once per seed,
  from the written text (tokens split on [^a-zA-Z]+, as the apps do).
- surface: no generated input; the fixed tables in perfbench/data are used.

Usage: python3 perfbench/gen.py <workload> <seed>   (prints the input dir)
"""
import json
import os
import re
import shutil
import sys
from collections import defaultdict

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(HERE, "data", "sf0.01")
CACHE = os.path.join(ROOT, ".bench_cache")
KEEP = 4  # cached (workload, seed) inputs kept, newest first
TOKEN = re.compile(r"[^a-zA-Z]+")


def spec():
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


def corpus(out, seed, p):
    rng = np.random.default_rng(p["vocabulary_seed"])
    lo, hi = p["word_length"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab, seen = [], set()
    while len(vocab) < p["vocabulary"]:
        w = "".join(rng.choice(letters, size=int(rng.integers(lo, hi))))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vocab = np.array(vocab, dtype=object)
    rng = np.random.default_rng([seed, 1])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    prob = ranks ** -p["zipf_exponent"]
    prob /= prob.sum()
    n, mean = p["files"], p["mean_file_bytes"]
    small = p["smallest_file_factor"]
    sizes = [int(mean * (small + 2 * (1 - small) * i / max(1, n - 2)))
             for i in range(n - 1)] + [int(mean * p["straggler_factor"])]
    sizes = [sizes[i] for i in rng.permutation(n)]
    seps = np.array([" "] * 10 + [", ", ". ", "\n"], dtype=object)
    avg = float((prob * np.array([len(w) for w in vocab])).sum()) + 1.2
    wc = defaultdict(int)
    index = defaultdict(list)
    for i, size in enumerate(sizes):
        k = int(size / avg) + 1
        words = vocab[rng.choice(len(vocab), size=k, p=prob)]
        gaps = seps[rng.integers(0, len(seps), size=k)]
        text = "".join(np.stack([words, gaps], axis=1).ravel().tolist())
        name = f"part-{i:03d}.txt"
        with open(os.path.join(out, name), "w") as fh:
            fh.write(text)
        toks = [t for t in TOKEN.split(text) if t]
        for t in toks:
            wc[t] += 1
        for t in set(toks):
            index[t].append(name)
    with open(os.path.join(out, "oracle.json"), "w") as fh:
        json.dump({"wc": wc, "indexer": {k: sorted(v) for k, v in index.items()}}, fh)


def inputs(workload, seed):
    """Returns the input directory of (workload, seed), generating it once."""
    s = spec()
    if workload not in s["workloads"]:
        sys.exit(f"gen: unknown workload {workload}")
    if workload == "surface":
        return BASE
    out = os.path.join(CACHE, f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, ".ok")):
        os.utime(out)
        return out
    os.makedirs(CACHE, exist_ok=True)
    old = sorted((e.path for e in os.scandir(CACHE) if e.is_dir()),
                 key=os.path.getmtime, reverse=True)
    for stale in old[KEEP - 1:]:
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    params = s["workloads"][workload]["gen"]
    corpus(tmp, seed, params)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    return out


if __name__ == "__main__":
    print(inputs(sys.argv[1], int(sys.argv[2])))
