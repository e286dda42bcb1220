#!/usr/bin/env python3
"""One benchmark run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload registry_sample --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source when the sources changed
(sbt, into perfbench/target), generates the base tables once per
checkout, then runs one JVM for the workload: set-up, then the timed
phase (see perfbench/README.md). Outputs are checked here: registry
digests against perfbench/expected/registry_digests.json, the chain
against a DuckDB twin over the same generated inputs. The last stdout
line is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
BUILD_TIMEOUT_S = 840


def run_timeout(seconds, trace):
    """Seconds a run may take before it is killed: set-up (session,
    warm pass, calibration; about 30 s on 4 cores) plus the timed
    passes. An untraced run ends within --seconds plus one pass; a
    traced run makes four passes. A pass is sized to take well under
    15 s, so at --seconds 15 this is 140 s untraced, 170 s traced."""
    return 110 + (4 if trace else 2) * max(seconds, 15)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def tree(*dirs):
    return [p for d in dirs for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)]


def run_checked(cmd, timeout, **kw):
    """Run a child to completion; kill it (and wait) on timeout."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    if p.returncode != 0:
        fail(f"exit {p.returncode}: {' '.join(cmd[:3])} ...")
    return out


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile when the engine, harness or build sources changed."""
    srcs = tree(os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")) + [
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    fp = fingerprint(srcs)
    stamp = os.path.join(STATE, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.isdir(classes):
        return classes, fp
    log("building (sbt compile)")
    run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                cwd=HERE, env=sbt_env(), stdout=sys.stderr)
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp)
    return classes, fp


def git_sha():
    """HEAD of the checkout when it is a git work tree, else None."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def spark_home():
    """Spark's install directory: $SPARK_HOME, else the first directory
    on PATH whose spark-submit sits in a Spark distribution (one with a
    jars/ directory holding spark-sql; a pip-installed launcher has none)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    fail("Spark not found: set SPARK_HOME or put a Spark distribution's bin/ on PATH")


def java_cmd(classes, args):
    spark_home = os.environ["SPARK_HOME"]
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main"] + args)


def ensure_data(classes):
    """Base tables, generated once per checkout and generator version."""
    data = os.path.join(STATE, "data")
    fp = fingerprint([os.path.join(HERE, "src", "main", "scala", "perfbench", "Gen.scala")])
    stamp = os.path.join(data, "gen.stamp")
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return data
    log("generating base tables")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    out = os.path.join(STATE, "gen-out")
    shutil.rmtree(out, ignore_errors=True)
    run_checked(java_cmd(classes, ["--mode", "gen", "--data", data, "--out", out]),
                BUILD_TIMEOUT_S, stdout=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(fp)
    return data


TWIN_SQL = """
CREATE VIEW sheet AS SELECT * FROM read_parquet('{inputs}/sf0.1/sheet/*.parquet');
CREATE VIEW codebook AS SELECT * FROM read_parquet('{inputs}/codebook.parquet');
CREATE VIEW joined AS
  SELECT o.*, c.code, c.rule_id FROM (
    SELECT l_orderkey, l_linenumber, raw, raw_norm, attr, CAST(val AS DOUBLE) AS val
    FROM (SELECT *, trim(regexp_replace(lower(raw), '[^a-z0-9]+', '-', 'g'), '-') AS raw_norm
          FROM sheet)
    UNPIVOT INCLUDE NULLS (val FOR attr IN ({measures}))) o
  LEFT JOIN codebook c USING (attr, raw_norm);
CREATE VIEW twin_cube AS
  SELECT code, attr, coalesce(rule_id, 'unmapped') AS prov_rule, count(*) AS n_obs,
    CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_measure
  FROM joined WHERE code IS NOT NULL GROUP BY ALL;
CREATE VIEW twin_report AS
  SELECT attr, raw_norm, count(*) AS n_occurrences, min(raw) AS example_raw
  FROM joined WHERE code IS NULL GROUP BY attr, raw_norm;
CREATE VIEW spark_cube AS
  SELECT code, attr, prov_rule, n_obs, sum_measure
  FROM read_parquet('{sink}/cube/*/*.parquet', hive_partitioning = true);
CREATE VIEW spark_report AS
  SELECT attr, raw_norm, n_occurrences, example_raw FROM read_parquet('{sink}/report/*.parquet');
"""


def chain_twin_ok(out):
    """Compare the last chain op's written cube and report with a DuckDB
    twin of the chain over the same generated sheet and codebook."""
    import duckdb
    con = duckdb.connect()
    con.execute(TWIN_SQL.format(inputs=os.path.join(out, "inputs"), sink=os.path.join(out, "sink"),
                                measures="l_quantity, l_extendedprice, l_discount, l_tax"))
    ok = True
    for name in ("cube", "report"):
        diff = con.execute(f"""SELECT count(*) FROM (
            (SELECT * FROM twin_{name} EXCEPT ALL SELECT * FROM spark_{name})
            UNION ALL (SELECT * FROM spark_{name} EXCEPT ALL SELECT * FROM twin_{name}))""").fetchone()[0]
        n = con.execute(f"SELECT count(*) FROM twin_{name}").fetchone()[0]
        if diff or n == 0:
            log(f"chain {name}: {diff} rows differ from the DuckDB twin ({n} twin rows)")
            ok = False
    return ok


def judge(report, out):
    """(attempted, failed, mismatch notes) over the timed ops."""
    ops = report["ops"]
    bad = []
    if report["workload"] == "harmonize_chain":
        ref = ops[0]["digest"] if ops else None
        twin = chain_twin_ok(out)
        for o in ops:
            if o["error"] or o["digest"] != ref or not twin:
                bad.append((o["name"], o["error"] or "output differs"))
    else:
        expected = json.load(open(os.path.join(HERE, "expected", "registry_digests.json")))
        for o in ops:
            want = expected.get(o["name"], {}).get("digest")
            if o["error"] or o["digest"] != want:
                bad.append((o["name"], o["error"] or f"digest {o['digest']} != expected {want}"))
    return len(ops), len(bad), bad


def refresh_expected(classes, data):
    """Recompute the registry digests and certify every key that has an
    oracle with the repository's DuckDB compare (graft.Verify dump, then
    tools/preflight.py) over the same generated sf0.1 tables. Verify's
    dump is digested too and must equal the benchmark's own digest, so
    the output the oracle certified is the output the benchmark expects.
    The file is rewritten only when every check passes."""
    out = os.path.join(STATE, "refresh")
    shutil.rmtree(out, ignore_errors=True)
    keys = json.loads(run_checked(java_cmd(classes, [
        "--mode", "digests", "--data", data, "--out", os.path.join(out, "keys")]),
        BUILD_TIMEOUT_S, stdout=subprocess.PIPE, text=True))
    oracle_keys = sorted(k for k, v in keys.items() if v["oracle"])
    sf = os.path.join(data, "sf0.1")
    dump = os.path.join(out, "verify")
    cmd = java_cmd(classes, [])
    cmd[cmd.index("perfbench.Main")] = "graft.Verify"
    run_checked(cmd + [sf, dump] + oracle_keys, BUILD_TIMEOUT_S,
                stdout=sys.stderr, env=dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count())))
    run_checked([sys.executable, os.path.join(ROOT, "tools", "preflight.py"), sf, dump] + oracle_keys,
                BUILD_TIMEOUT_S, stdout=sys.stderr)
    digests = json.loads(run_checked(java_cmd(classes, [
        "--mode", "digests", "--data", data, "--out", os.path.join(out, "jvm"), "--dump", dump]),
        BUILD_TIMEOUT_S, stdout=subprocess.PIPE, text=True))
    differ = [k for k in oracle_keys if digests[k].get("dump_digest") != digests[k]["digest"]]
    if differ:
        fail(f"the oracle-checked Verify output differs from the benchmark's output: {differ}")
    for v in digests.values():
        v["oracle_check"] = "PASS" if v["oracle"] else "no oracle"
        v.pop("dump_digest", None)
    with open(os.path.join(HERE, "expected", "registry_digests.json"), "w") as f:
        f.write(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    log(f"expected digests refreshed: {len(oracle_keys)} oracle-checked, "
        f"{len(digests) - len(oracle_keys)} without oracle")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-expected", action="store_true",
                    help="recompute and oracle-check the registry digests, then exit")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from the repository root")
    os.environ["SPARK_HOME"] = spark_home()
    if a.refresh_expected:
        classes, _ = build()
        refresh_expected(classes, ensure_data(classes))
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        fail("--workload, --seed and --seconds are required")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    classes, source_sha = build()
    data = ensure_data(classes)
    out = os.path.join(STATE, "run")
    shutil.rmtree(out, ignore_errors=True)
    stdout = run_checked(java_cmd(classes, [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data, "--out", out]),
        run_timeout(a.seconds, a.trace), stdout=subprocess.PIPE, text=True)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_REPORT ")]
    if not lines:
        fail("the run printed no report")
    report = json.loads(lines[-1][len("PERFBENCH_REPORT "):])
    attempted, failed, bad = judge(report, out)
    for name, why in bad:
        log(f"FAILED {name}: {why}")
    report["end_to_end"]["failed_frac"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}
    report["attempted"], report["failed"] = attempted, failed
    report["self"]["source_sha256"] = source_sha
    report["self"]["git_sha"] = git_sha()
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in ("workload", "seed", "self", "setup", "end_to_end",
                                               "per_layer")}))
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = report["per_layer"] if a.trace else report["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"metrics missing from the report: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
