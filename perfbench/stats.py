"""Turns the harness's raw samples into the benchmark's metrics.

The metric definitions here are the single source of truth; the test
suite checks that BENCHMARK.json lists exactly these.
"""
import glob
import math
import os
import re
import statistics
import sys

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("retained_heap_mb", "MB", "lower"),
)

MODULES = ("sources", "refbuild", "pipelines", "tagger", "bridge", "labs",
           "operators", "core")
MODULE_METRICS = (("exec_s", "s"), ("cpu_s", "s"), ("jobs", "count"),
                  ("tasks", "count"), ("shuffle_mb", "MB"),
                  ("spill_mb", "MB"), ("write_mb", "MB"))
Q115_STAGES = ("s0m", "s1", "s2", "s3", "s4", "s5", "tail")

PER_LAYER = tuple(
    [(f"{m}.{k}", u, "lower") for m in MODULES for k, u in MODULE_METRICS] +
    [(f"operators.{s}_exec_s", "s", "lower") for s in Q115_STAGES] +
    [("spark.idle_s", "s", "lower"), ("spark.jobs", "count", "lower"),
     ("spark.gc_s", "s", "lower"),
     ("tagger.distinct_ratio", "ratio", "lower"),
     ("tagger.match_rate", "ratio", "higher"),
     ("bridge.perfect_rate", "ratio", "higher"),
     ("labs.match_rate", "ratio", "higher"),
     ("core.persistent_rdds_leaked", "count", "lower"),
     ("trace.unattributed_share", "ratio", "lower"),
     ("trace.overhead_s", "s", "lower")])


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(raw, checks, gen_s, trace):
    """Metrics plus counts from one invocation's raw samples.

    A run that threw, or whose output failed a check or differs from the
    first run's, counts as failed and contributes no time; so does a
    failed check. Only the timed runs give `wall_s`.
    """
    runs = raw.get("runs", [])
    good = [r for r in runs if r.get("ok")]
    failed = (len(runs) - len(good)) + sum(1 for c in checks if not c["ok"])
    attempted = max(1, len(runs) + len(checks))
    # the warm-up and traced runs are checked but not timed
    walls = [r["wall_s"] for r in good if r.get("timed")]
    e2e = {
        "setup_s": (gen_s + raw.get("session_s", float("nan")) +
                    raw.get("setup_s", float("nan"))),
        "wall_s": median(walls),
        "retained_heap_mb": raw.get("retained_heap_mb", float("nan")),
    }
    layer = {}
    tr = raw.get("trace")
    if tr:
        layer = {n: 0.0 for n, _, _ in PER_LAYER}
        layer.update({k: v for k, v in tr["metrics"].items() if k in layer})
        traced = tr.get("traced_wall_s")
        layer["trace.overhead_s"] = (float("nan") if traced is None
                                     else traced - median(walls))
    correct = (failed == 0 and bool(walls) and "fatal" not in raw and
               (trace == 0 or bool(tr)))
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
        "details": {
            "fail_share": failed / attempted,
            "runs": len(runs),
            "workload_setup_s": raw.get("setup_s"),
            "gen_s": gen_s,
            "session_s": raw.get("session_s"),
            "wall_samples_s": walls,
            "untimed_walls_s": [r.get("wall_s") for r in runs
                                if not r.get("timed")],
            "steal_shares": [r.get("steal_share") for r in runs],
            "persistent_rdds_leaked": [r.get("persistent_rdds_leaked")
                                       for r in runs],
            "errors": [r["error"] for r in runs if "error" in r],
            "checks": checks,
            "check_s": raw.get("check_s"),
            "fatal": raw.get("fatal"),
            "trace": {k: v for k, v in (tr or {}).items() if k != "metrics"},
        },
    }


def contract_line(result):
    """The last stdout line: correctness, counts and the metrics."""
    defs = PER_LAYER if result["per_layer"] else END_TO_END
    values = result["per_layer"] or result["end_to_end"]
    metrics = {}
    for name, unit, _ in defs:
        v = values.get(name)
        if v is not None and not (isinstance(v, float) and math.isnan(v)):
            metrics[name] = {"value": v, "unit": unit}
    return {"correct": result["correct"] and len(metrics) == len(defs),
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": metrics}


def oracle_checks(root, data, oracle_dir):
    """Each `<query>.sql` in oracle_dir run by DuckDB over the workload's
    documents, compared with the engine's output under `<query>/` using
    the canonicalization of tools/compare.py.
    """
    sqls = sorted(glob.glob(os.path.join(oracle_dir, "*.sql")))
    if not sqls:
        return []
    try:
        sys.path.insert(0, os.path.join(root, "tools"))
        import compare
        import duckdb
        import pandas as pd
    except ImportError as e:
        return [{"name": "oracle", "ok": False, "detail": f"import: {e}"}]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(data, 'documents.parquet')}'")
    out = []
    for path in sqls:
        name = os.path.basename(path)[:-4]
        files = glob.glob(os.path.join(oracle_dir, name, "*.parquet"))
        try:
            with open(path) as f:
                duck = compare.canon(con.execute(f.read()).df())
            spark = compare.canon(pd.concat([pd.read_parquet(x) for x in files]))
            detail = _diff(compare, spark, duck)
        except Exception as e:  # noqa: BLE001 — any failure is a failed check
            detail = f"{type(e).__name__}: {e}"
        out.append({"name": f"{name}.oracle", "ok": detail is None,
                    "detail": detail or f"{len(spark)} rows match"})
    con.close()
    return out


def _diff(compare, a, b):
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        if not compare.dtypes_equal(a[c].dtype, b[c].dtype):
            return f"dtype {c}: {a[c].dtype} vs {b[c].dtype}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        for i in range(len(a)):
            if not compare.values_equal(a[c].iloc[i], b[c].iloc[i]):
                return f"col {c} row {i}: {a[c].iloc[i]!r} vs {b[c].iloc[i]!r}"
    return None
