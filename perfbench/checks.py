"""Output checks and the readable report for perfbench runs.

Batch results are compared with their DuckDB oracle (`SparkEntry.oracleSql`,
passed through by the JVM) the way the engine's correctness gate compares
them: columns sorted by name, rows sorted, strings compared as text,
floats compared exactly, and an int/float column-type mismatch is a failure.
"""
import os
import subprocess

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, exp):
    """None when equal, else the first difference found."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows != oracle {len(e)}"
    for c in g.columns:
        gf = str(g[c].dtype).startswith("float")
        ef = str(e[c].dtype).startswith("float")
        if gf != ef:
            return f"column {c}: type {g[c].dtype} != oracle {e[c].dtype}"
        if gf:
            a, b = g[c].astype(float), e[c].astype(float)
            if not np.allclose(a, b, rtol=0, atol=0, equal_nan=True):
                return f"column {c}: max float diff {(a - b).abs().max()}"
        elif not g[c].astype(str).equals(e[c].astype(str)):
            i = (g[c].astype(str) != e[c].astype(str)).idxmax()
            return f"column {c} row {i}: {g[c][i]!r} != oracle {e[c][i]!r}"
    return None


def oracle_checks(data_dir, out_dir, oracle, wrong_expected=False):
    """Yield (query, ok, detail) for every query the JVM ran."""
    con = duckdb.connect()
    con.sql(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{data_dir}/{t}.parquet'")
    for i, name in enumerate(sorted(oracle)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            yield name, False, "no output written"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
            exp = con.sql(oracle[name]).df()
        except Exception as e:  # an oracle or output that cannot be read
            yield name, False, f"{type(e).__name__}: {e}"
            continue
        if wrong_expected and i == 0:
            exp = exp.iloc[:-1] if len(exp) else exp.assign(extra=1)
        diff = compare(got, exp)
        yield name, diff is None, diff or f"{len(got)} rows match"


def applies(metric, workload, queries):
    """Whether a per-layer metric belongs to a layer the workload runs
    (`queries`: the workload's queries, as the JVM reported them)."""
    stream = metric.startswith(("j1.", "j2.", "j3.", "j4."))
    if workload == "stream_ingest":
        return stream or metric == "engine.session_s"
    if stream:
        return False
    owner = metric.rsplit(".", 1)[0]
    if metric.endswith((".construct_s", ".exec_s")):
        return owner in queries
    return True


def commit_of(root):
    """The git commit when the checkout is a repository, else a hash of
    the engine and harness sources (the build stamp)."""
    try:
        git = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10)
        top, _, sha = git.stdout.strip().partition("\n")
        # only the checkout's own repository, never one that encloses it
        if git.returncode == 0 and os.path.realpath(top) == \
                os.path.realpath(root):
            return "git:" + sha
    except OSError:
        pass
    stamp = os.path.join(root, "perfbench", ".work", "build.stamp")
    return "src:" + (open(stamp).read()[:16] if os.path.exists(stamp) else "?")


def report(rec, out):
    """Every metric by name with its unit, the checks and the environment."""
    w = rec["workload"]
    print(f"== perfbench {w}: "
          f"{'CORRECT' if rec['correct'] else 'INCORRECT'} "
          f"({rec['failed']} failed of {rec['attempted']} operations)",
          file=out)
    print("   env: " + ", ".join(f"{k}={v}" for k, v in rec["env"].items()
                                  if k != "jvm_args"), file=out)
    for c in rec["checks"]:
        if not c["ok"]:
            print(f"   FAILED {c['name']}: {c['detail']}", file=out)
    print(f"   checks passed: {sum(c['ok'] for c in rec['checks'])}"
          f"/{len(rec['checks'])}", file=out)
    for k, v in rec["metrics"].items():
        print(f"   {k:34s} {v['value']:14.4f} {v['unit']}", file=out)
    if "passes" in rec:
        print(f"   passes: {rec['passes']}", file=out)
