#!/usr/bin/env python3
"""Paired A/B of the benchmark: a parent commit against this tree.

    python3 tools/paired_perfbench.py PARENT_REF --workload esoa_link --pairs 10 --seed0 3

Run from the root of a graft checkout. PARENT_REF is exported with
`git archive` into a fresh temporary directory (set TMPDIR to choose
where), and each tree runs its own `perfbench/run.py --trace 0`. Pair i
uses seed seed0 + i on both sides; even pairs run the parent first, odd
pairs the change. A pair whose two host stamps differ
(perfbench/compare.py's `host()`), or where a side failed, is refused and
counts for nothing.

Prints every pair, then for each end-to-end metric of BENCHMARK.json each
side's median and quartiles, the win count and two verdicts. The gain
verdict is the sandbox rule: at least ten pairs, wins in at least nine
tenths of them (ties count for neither), and a median gap larger than the
parent's interquartile range. The bound check says worse when the
change's median is worse by more than the metric's bound, unresolved when
the parent's own IQR is wider than the bound (unless every change run
beats every parent run), else within bound. Exits 1 when any metric is
worse.
"""
import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def perfbench_compare(root):
    """perfbench/compare.py as a module (tools/compare.py shadows the name)."""
    path = os.path.join(root, "perfbench", "compare.py")
    spec = importlib.util.spec_from_file_location("perfbench_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better="lower"):
    """The sandbox rule over paired values (parent[i], change[i]).

    Returns a dict with the win count, each side's quartiles and `gain`:
    True only with >= 10 pairs, wins in >= 9/10 of them and a median gap
    in the better direction larger than the parent's IQR.
    """
    if len(parent) != len(change):
        raise ValueError("parent and change need one value per pair")
    n = len(parent)
    if n == 0:
        return {"pairs": 0, "wins": 0, "gain": False, "reason": "no pairs"}
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq, cq = quartiles(sorted(parent)), quartiles(sorted(change))
    gap = sign * (pq[1] - cq[1])
    iqr = pq[2] - pq[0]
    if n < 10:
        gain, reason = False, f"{n} pairs; the rule needs at least 10"
    elif wins * 10 < 9 * n:
        gain, reason = False, f"won {wins}/{n}, under 9/10"
    elif gap <= iqr:
        gain, reason = False, (f"median gap {gap:.4g} does not exceed the "
                               f"parent's IQR {iqr:.4g}")
    else:
        gain, reason = True, (f"won {wins}/{n}; median gap {gap:.4g} > "
                              f"parent IQR {iqr:.4g}")
    return {"pairs": n, "wins": wins, "parent": pq, "change": cq,
            "gap": gap, "parent_iqr": iqr, "gain": gain, "reason": reason}


def bound_check(parent, change, bound, better="lower"):
    """'worse', 'unresolved' or 'within bound' for a metric that must not
    move by more than `bound` (a share of the parent's median)."""
    sign = 1 if better == "lower" else -1
    pq, cq = quartiles(sorted(parent)), quartiles(sorted(change))
    if sign * (cq[1] - pq[1]) > bound * abs(pq[1]):
        return "worse"
    every_run_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if pq[2] - pq[0] > bound * abs(pq[1]) and not every_run_better:
        return "unresolved"
    return "within bound"


def run_side(tree, workload, seed, seconds):
    """(stamp, {metric: value} or None, note) of one benchmark invocation."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [x for x in r.stdout.splitlines() if x.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        return None, None, f"exit {r.returncode}: {r.stderr[-400:]}"
    info, contract = json.loads(lines[-2]), json.loads(lines[-1])
    if not contract.get("correct"):
        return info.get("stamp"), None, (
            f"incorrect run: failed {contract.get('failed')} of "
            f"{contract.get('attempted')}")
    values = {k: m["value"] for k, m in contract["metrics"].items()}
    return info.get("stamp"), values, ""


def export(ref, dest):
    """PARENT_REF's files under dest."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", ref],
                             stdout=subprocess.PIPE, check=True)
    subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout, check=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_ref")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    host = perfbench_compare(ROOT).host
    parent_tree = tempfile.mkdtemp(prefix="paired-")
    try:
        export(a.parent_ref, parent_tree)
        parent, change = [], []
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = [("parent", parent_tree), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {side: run_side(tree, a.workload, seed, seconds)
                   for side, tree in order}
            (sp, vp, np_), (sc, vc, nc) = got["parent"], got["change"]
            first = order[0][0]
            if vp is None or vc is None:
                print(f"pair {i + 1} seed {seed} ({first} first): refused, "
                      f"a side failed: {np_ or nc}", flush=True)
                continue
            if host(sp) != host(sc):
                diff = sorted(k for k in host(sp).keys() | host(sc).keys()
                              if host(sp).get(k) != host(sc).get(k))
                print(f"pair {i + 1} seed {seed}: refused, host stamps "
                      f"differ in {', '.join(diff)}", flush=True)
                continue
            parent.append(vp)
            change.append(vc)
            print(f"pair {i + 1} seed {seed} ({first} first): " + "  ".join(
                f"{k} {vp[k]:.3f} -> {vc[k]:.3f} ({(vc[k] - vp[k]) / vp[k]:+.1%})"
                for k in metrics if k in vp and k in vc), flush=True)
        worse = False
        for name, m in metrics.items():
            ps = [p[name] for p, c in zip(parent, change) if name in p and name in c]
            cs = [c[name] for p, c in zip(parent, change) if name in p and name in c]
            if not ps:
                continue
            for side, xs in (("parent", ps), ("change", cs)):
                q1, q2, q3 = quartiles(sorted(xs))
                print(f"{name} {side}: median {q2:.3f}  quartiles [{q1:.3f}, {q3:.3f}]")
            v = verdict(ps, cs, m["better"])
            b = bound_check(ps, cs, m["bound"], m["better"])
            worse |= b == "worse"
            print(f"{name} on {a.workload}: {v['wins']}/{v['pairs']} wins; "
                  f"{'GAIN' if v['gain'] else 'no gain'} ({v['reason']}); "
                  f"{b} (bound {m['bound']:.0%})")
        return 1 if worse else 0
    finally:
        shutil.rmtree(parent_tree, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
