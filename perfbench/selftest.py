#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py [--seed 7]

Runs each workload once (short), keeps its outputs, and feeds the
checks first the real outputs (which must pass) and then perturbed
copies (each of which must fail):

- ask: the dense top-1 swapped with the last hit; one chunk dropped
  from the index read-back; an admin row changed; a BM25 score nudged;
  a read-back whose own document is no longer first.
- curate: one extra packed token; one row dropped from a DuckDB-checked
  output.
"""
import argparse
import copy
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402


def swap_top1(d):
    """Swap the top-1 and the k-th dense hit of a result whose scores differ."""
    for rec in d["dense"]:
        rows = rec["rows"]
        if len(rows) >= 2 and rows[0][1] != rows[-1][1]:
            rows[0], rows[-1] = rows[-1], rows[0]
            return
    raise SystemExit("no dense result with distinct top and bottom scores")


def drop_chunk(d):
    d["chunks"].pop(len(d["chunks"]) // 2)


def change_admin_row(d):
    rec = next(r for r in d["admin"] if r["rows"])
    row = rec["rows"][0]
    i = next(j for j, v in enumerate(row) if isinstance(v, (int, float)) and not isinstance(v, bool))
    row[i] = row[i] + 1


def nudge_bm25(d):
    rec = next(r for r in d["lexical"] if r["rows"])
    rec["rows"][0][2] += 0.01


def bury_readback(d):
    rec = d["readback"][0]
    rec["rows"] = rec["rows"][1:] + rec["rows"][:1]


def extra_packed_token(d):
    rec = next(r for r in d["curate"] if r["query"] == "sequence_pack")
    rec["rows"][0][rec["columns"].index("n_tok")] += 1


def drop_curate_row(d):
    rec = next(r for r in d["curate"] if r["query"] == "gopher_filter" and r["rows"])
    rec["rows"].pop()


PERTURB = {"ask": [swap_top1, drop_chunk, change_admin_row, nudge_bm25, bury_readback],
           "curate": [extra_packed_token, drop_curate_row]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    ok = True
    for w, perturbs in PERTURB.items():
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as tmp:
            keep = os.path.join(tmp, "run")
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(args.seed), "--seconds", "1", "--keep", keep],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w}: run failed\n{p.stderr[-2000:]}")
            data = check.load(w, keep)
            errs = check.check(w, data)
            print(f"{w}: real outputs -> {'pass' if not errs else 'FAIL ' + json.dumps(errs[:3])}")
            ok &= not errs
            for f in perturbs:
                bad = copy.deepcopy(data)
                f(bad)
                errs = check.check(w, bad)
                print(f"{w}: {f.__name__} -> {'caught: ' + errs[0] if errs else 'NOT CAUGHT'}")
                ok &= bool(errs)
    print("self-test passed" if ok else "self-test FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
