#!/usr/bin/env python3
"""Compare two benchmark results written under .bench_build/results/.

    python3 perfbench/compare.py BASE.json NEW.json

Results measured on different hosts or configurations are refused: every
field of the host stamp except the code identity (git sha, source tree)
must match. Each metric is reported as the new value's change against
the base; nothing is merged or kept as a best-of.
"""
import json
import sys

CODE_IDENTITY = ("git_sha", "source_tree")


def host(stamp):
    return {k: v for k, v in stamp.items() if k not in CODE_IDENTITY}


def compare(base, new):
    """Lines describing new against base; raises ValueError on a stamp
    or workload mismatch."""
    if base.get("workload") != new.get("workload"):
        raise ValueError(f"workloads differ: {base.get('workload')} vs "
                         f"{new.get('workload')}")
    hb, hn = host(base.get("stamp", {})), host(new.get("stamp", {}))
    if hb != hn:
        diff = sorted(k for k in hb.keys() | hn.keys() if hb.get(k) != hn.get(k))
        raise ValueError("host stamps differ in " + ", ".join(diff))
    lines = []
    for group in ("end_to_end", "per_layer"):
        for name in sorted(base.get(group, {})):
            b, n = base[group][name], new.get(group, {}).get(name)
            if n is None:
                continue
            rel = f"{(n - b) / b:+.1%}" if b else "n/a"
            lines.append(f"{group}.{name}: {b:.6g} -> {n:.6g} ({rel})")
    return lines


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        base = json.load(f)
    with open(argv[2]) as f:
        new = json.load(f)
    try:
        lines = compare(base, new)
    except ValueError as e:
        print(f"refused: {e}", file=sys.stderr)
        return 3
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
