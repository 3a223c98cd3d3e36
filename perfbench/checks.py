"""Output checks of the benchmark, run after the JVM has exited.

- surface: every query's set-up output (parquet) is
  compared with DuckDB running the query's oracle SQL over the same input
  tables, by the repository's own comparison, tools/check.py.
- mr_corpus: the newest committed output of each app is compared with the
  oracle gen.py computed from the corpus text, and must be globally sorted
  by key.

Each function returns the set of operation names whose output is wrong.
"""
import glob
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def oracle_check(data_dir, check_dir, ops):
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        data_dir, check_dir] + list(ops),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    ok = set(re.findall(r"^\[ OK \] (\S+):", r.stdout, re.M))
    bad = set(ops) - ok
    for line in r.stdout.splitlines():
        if line.startswith("[FAIL]"):
            sys.stderr.write(line + "\n")
    return bad


def read_lines(out_dir):
    lines = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f) as fh:
            lines += [l.rstrip("\n") for l in fh if l.strip()]
    return lines


def mr_check(corpus_dir, outputs):
    with open(os.path.join(corpus_dir, "oracle.json")) as fh:
        oracle = json.load(fh)
    bad = set()
    for app, out_dir in outputs.items():
        lines = read_lines(out_dir)
        keys = [l.split(" ", 1)[0] for l in lines]
        got = {}
        for l in lines:
            k, v = l.split(" ", 1)
            if app == "indexer":
                n, docs = v.split(" ", 1)
                names = [d.rsplit("/", 1)[-1] for d in docs.split(",")]
                v = [int(n), names]
            got[k] = v
        if app == "wc":
            want = {k: str(c) for k, c in oracle["wc"].items()}
        else:
            want = {k: [len(v), v] for k, v in oracle["indexer"].items()}
        if got != want or keys != sorted(keys) or len(keys) != len(got):
            sys.stderr.write(f"[FAIL] {app}: output differs from the oracle\n")
            bad.add(app)
    return bad
