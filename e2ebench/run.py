#!/usr/bin/env python3
"""End-to-end benchmark of graft's user jobs.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload distill-landing --seed 1 --seconds 10 --trace 0

The first run compiles src/main/scala and the benchmark's own Scala
files with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, or the one beside `spark-submit` on PATH) into
.bench_build/e2ebench; later runs reuse the classes while the sources
are unchanged. The JVM half (graftbench.Main) generates the inputs from
the seed, times the job and writes result.json; this script then runs
the DuckDB oracle checks and prints one metric line per metric and, as
the last line, the JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("distill-landing", "pretrain-capstone", "stream-ingest")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def nproc():
    """Usable cores, as `nproc` reports them; Spark runs on local[nproc]."""
    try:
        return int(subprocess.run(["nproc"], capture_output=True, text=True, check=True).stdout)
    except (OSError, ValueError, subprocess.CalledProcessError):
        return len(os.sched_getaffinity(0))


def java_opts(jars):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return opts + ["-Xss8m", "-XX:-UsePerfData", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def build(root, out):
    """Compiles the program and the benchmark; skipped when unchanged."""
    main_src = root / "src" / "main" / "scala"
    sources = sorted(main_src.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    if not any(p.is_relative_to(main_src) for p in sources):
        fail(f"no program sources under {main_src}")
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for p in sources:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    stamp = out / "stamp"
    classes = out / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes, jars
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes)] + [str(p) for p in sources]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    stamp.write_text(digest.hexdigest())
    return classes, jars


def duck():
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    return con


def multiset_diff(con, got, want):
    """Rows in one relation and not the other, counting duplicates."""
    q = f"""SELECT
      (SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL SELECT * FROM {want})),
      (SELECT count(*) FROM (SELECT * FROM {want} EXCEPT ALL SELECT * FROM {got})),
      (SELECT count(*) FROM {got}), (SELECT count(*) FROM {want})"""
    extra, missing, n_got, n_want = con.sql(q).fetchone()
    ok = extra == 0 and missing == 0 and n_want > 0
    return ok, f"rows={n_got} expected={n_want} extra={extra} missing={missing}"


def oracle_checks(task):
    """Spark outputs against the query's DuckDB oracle SQL over the same inputs."""
    con = duck()
    if task["kind"] == "q50":
        lines = os.path.join(task["landing"], "**", "*.jsonl.gz")
        field = lambda k: f"json_extract_string(j, '$.{k}')"
        con.sql(f"""CREATE VIEW events AS
          SELECT CAST({field('event_id')} AS BIGINT) AS event_id,
                 CAST(CAST({field('ts')} AS TIMESTAMPTZ) AS TIMESTAMP) AS ts,
                 CAST({field('user_id')} AS BIGINT) AS user_id,
                 {field('event_type')} AS event_type,
                 CAST({field('value')} AS DOUBLE) AS value, {field('props')} AS props
          FROM (SELECT CASE WHEN json_valid(line) THEN line END AS j FROM read_csv('{lines}',
                  columns={{'line': 'VARCHAR'}}, delim='\x1f', header=false, quote='',
                  escape='', auto_detect=false))
          WHERE j IS NOT NULL AND {field('event_id')} IS NOT NULL""")
        types = "{'cmd_id': 'BIGINT', 'prompt': 'VARCHAR', 'completion': 'VARCHAR', 'split': 'VARCHAR'}"
        cols = "*"
        read = lambda d: f"read_json('{d}/*.json.gz', columns={types}, format='newline_delimited')"
    else:
        files = ", ".join(f"'{d}/*.tsv'" for d in task["docs"])
        con.sql(f"""CREATE VIEW documents AS SELECT * FROM read_csv([{files}],
          columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR'}}, delim='\t', header=false,
          quote='', escape='', auto_detect=false)""")
        # q71 lists contaminated docs with a count; the stream's quarantine holds their ids
        cols = "doc_id" if task["kind"] == "q71" else "*"
        read = lambda d: f"read_parquet('{d}/*.parquet')"
    con.sql(f"CREATE TEMP TABLE want AS SELECT {cols} FROM ({task['sql']})")
    out = []
    for d in task["outputs"]:
        name = f"{task['kind']}-oracle-{Path(d).name}"
        try:
            con.sql(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols} FROM {read(d)}")
            ok, detail = multiset_diff(con, "got", "want")
        except Exception as e:  # a missing or unreadable output is a failed check
            ok, detail = False, f"unreadable output: {e}"
        out.append({"name": name, "ok": ok, "detail": detail})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", action="store_true", help="write the inputs and stop")
    a = ap.parse_args()

    root = Path.cwd()
    out = root / ".bench_build" / "e2ebench"
    classes, jars = build(root, out)
    work = out / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    jvm_args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(work), str(nproc())]
    if a.gen_only:
        jvm_args.append("gen-only")
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}"] + java_opts(jars) + [
        "-cp", os.pathsep.join([str(classes), os.path.join(jars, "*")]), "graftbench.Main"] + jvm_args
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s (log: {work / 'jvm.log'})")
    if r.returncode != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"the JVM exited with {r.returncode}")
    if a.gen_only:
        return

    res = json.loads((work / "result.json").read_text())
    checks = list(res["checks"])
    for task in res["oracle"]:
        checks.extend(oracle_checks(task))
    oracle_attempts = sum(len(t["outputs"]) for t in res["oracle"])
    attempted = res["attempted"] + oracle_attempts
    failed = res["failed"] + sum(1 for c in checks[len(res["checks"]):] if not c["ok"])
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    for k in sorted(metrics):
        print(f"metric {k} = {metrics[k]['value']} {metrics[k]['unit']}")
    print(f"metric failed_ratio = {failed / attempted} ratio")
    info = {k: res[k] for k in ("workload", "seed", "cores", "sessions", "input_rows", "gen_s",
                                "probe_before_s", "probe_after_s", "job_samples_s", "heap_samples_mb",
                                "setup_samples_s", "inputs")}
    info["probe_drift"] = res["probe_after_s"] / res["probe_before_s"]
    print("run_info " + json.dumps(info, sort_keys=True))
    for d in ("input", "out", "warehouse", "spark-local"):
        shutil.rmtree(work / d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and all(c["ok"] for c in checks),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
