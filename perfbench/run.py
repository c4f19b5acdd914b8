#!/usr/bin/env python3
"""Benchmark command for the EP1 fraud engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload fraud_batch|fraud_stream|query_mix \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use
(sbt, into perfbench/target; later runs reuse the build while the
sources are unchanged), runs one workload in one JVM, checks its
outputs (DuckDB over the same inputs, invariants, the registry oracle
compare by tools/verify_local.py), and prints one JSON result as the
last line of standard output. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics; a traced run also writes its spans and counters to
.bench_build/traces/<workload>-seed<N>.json.

Exits non-zero on any failed or mismatched operation, and without a
result when the engine's sources are not there to build.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.01"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build compiles."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main", DATA,
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files = sorted(r.rglob("*")) if r.is_dir() else [r]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no engine sources under {ROOT / 'src'}; nothing to benchmark")
        sys.exit(2)
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = source_digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark (sbt writeClasspath)")
    t0 = time.time()
    rc = subprocess.call(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL)
    if rc != 0:
        log(f"build failed (sbt exit {rc})")
        sys.exit(2)
    log(f"built in {time.time() - t0:.1f}s")
    shutil.copyfile(BENCH / "target" / "classpath.txt", cp_file)
    cp = cp_file.read_text().strip()
    build_class_archive(cp)
    stamp.write_text(digest)
    return cp


CLASS_ARCHIVE = BUILD / "classes.jsa"


def jvm_flags(work):
    """JVM flags shared by every run and by the archive run."""
    return [x for p in JDK17_OPENS
            for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a ceiling only: a preset, pre-touched heap would make the
        # reported peak RSS a constant of these flags
        "-Xmx4g",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def build_class_archive(cp):
    """Class-data-sharing archive of the classes the workloads load,
    dumped by one short pass over all of them. Runs map it instead of
    loading and verifying thousands of classes from the jars again,
    which halves JVM and session start-up and steadies it."""
    t0 = time.time()
    CLASS_ARCHIVE.unlink(missing_ok=True)
    work = BUILD / "archive-run"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    rc = subprocess.call(
        ["java"] + jvm_flags(work) + [
            f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}", "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off", "-cp", cp, "perfbench.Main", "--archive-run",
            str(work), str(DATA)],
        stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    shutil.rmtree(work)
    if rc != 0:
        CLASS_ARCHIVE.unlink(missing_ok=True)
        log(f"class archive run failed (exit {rc}); runs start without it")
    else:
        log(f"class archive dumped in {time.time() - t0:.1f}s")


def run_jvm(cp, args, work):
    """One workload in one JVM; returns its result.json, or None."""
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"] + jvm_flags(work)
    if CLASS_ARCHIVE.exists():
        cmd.append(f"-XX:SharedArchiveFile={CLASS_ARCHIVE}")
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--data", str(DATA),
            "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S}s; killing it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    result = work / "result.json"
    if rc != 0 or not result.exists():
        log(f"JVM exited {rc} without a result")
        return None
    return json.loads(result.read_text())


class Checks:
    """Counts checks the way the JVM counts operations."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def check(self, what, ok, detail=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}")
            log(f"MISMATCH {what}: {detail}")


def duck():
    import duckdb
    return duckdb.connect()


IP_INT = """CASE WHEN regexp_full_match(trim({c}),
  '((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[0-9][0-9]?)\\.){{3}}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[0-9][0-9]?)')
  THEN CAST(split_part(trim({c}), '.', 1) AS BIGINT) * 16777216
     + CAST(split_part(trim({c}), '.', 2) AS BIGINT) * 65536
     + CAST(split_part(trim({c}), '.', 3) AS BIGINT) * 256
     + CAST(split_part(trim({c}), '.', 4) AS BIGINT)
  ELSE CAST(trunc(TRY_CAST(trim({c}) AS DOUBLE)) AS BIGINT) END"""


def sink_digest(con, path):
    """Order-independent digest of one parquet sink: row count + md5 of
    the sorted rows, feature values rounded to 6 decimals. A different
    plan shape reorders the scaler's floating-point sums, which moves
    standardized features in the last bits (about 1e-15) and nothing
    else; rounding keeps the digest to what the pipeline computed."""
    src = f"read_parquet('{path}/*.parquet')"
    if not path.endswith("_names"):
        src = (f"(SELECT * REPLACE (list_transform(features, x -> round(x, 6)) "
               f"AS features) FROM {src})")
    rows = f"SELECT CAST(t AS VARCHAR) AS r FROM {src} t"
    n, h = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, '|' ORDER BY r), '')) "
        f"FROM ({rows})").fetchone()
    return f"{n}:{h}"


SINKS = ["fraud_train", "fraud_test", "credit_train", "credit_test",
         "fraud_feature_names", "credit_feature_names"]


def check_batch(r, c):
    """DuckDB recomputes clean counts, per-country counts and velocity
    sums from the same CSVs; invariants check the written sinks."""
    con = duck()
    inputs, spark = r["checks"]["inputs"], r["checks"].get("spark")
    cols = ("{'user_id': 'BIGINT', 'signup_time': 'VARCHAR', "
            "'purchase_time': 'VARCHAR', 'purchase_value': 'DOUBLE', "
            "'device_id': 'VARCHAR', 'source': 'VARCHAR', 'browser': 'VARCHAR', "
            "'sex': 'VARCHAR', 'age': 'DOUBLE', 'ip_address': 'VARCHAR', "
            "'class': 'INTEGER'}")
    con.execute(f"""CREATE TABLE clean AS SELECT DISTINCT user_id,
        TRY_CAST(signup_time AS TIMESTAMP) AS signup_time,
        TRY_CAST(purchase_time AS TIMESTAMP) AS purchase_time,
        purchase_value, device_id, source, browser, sex, age, ip_address, class
        FROM read_csv('{inputs['fraud']}', header = true, columns = {cols})
        WHERE ip_address IS NOT NULL""")
    con.execute(f"""CREATE TABLE ranges AS SELECT {IP_INT.format(c='lo')} AS lo,
        {IP_INT.format(c='hi')} AS hi, country FROM (SELECT DISTINCT * FROM
        read_csv('{inputs['ip_to_country']}', header = true, all_varchar = true)
        t(lo, hi, country))""")
    con.execute(f"""CREATE TABLE x AS SELECT c.*,
        coalesce(r.country, 'Unknown') AS country,
        count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(purchase_time)
          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) - 1 AS v_user,
        count(*) OVER (PARTITION BY device_id ORDER BY epoch_us(purchase_time)
          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) - 1 AS v_device,
        count(*) OVER (PARTITION BY ip_address ORDER BY epoch_us(purchase_time)
          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) - 1 AS v_ip
        FROM (SELECT *, {IP_INT.format(c='ip_address')} AS ip_int FROM clean) c
        LEFT JOIN ranges r ON c.ip_int >= r.lo AND c.ip_int <= r.hi""")
    credit = con.execute(f"""SELECT count(*) FILTER (WHERE "Class" = 0),
        count(*) FILTER (WHERE "Class" = 1), count(*) FROM (SELECT DISTINCT *
        FROM read_csv('{inputs['creditcard']}', header = true))""").fetchone()
    oracle = {
        "clean_fraud_rows": con.execute("SELECT count(*) FROM clean").fetchone()[0],
        "clean_ip_rows": con.execute("SELECT count(*) FROM ranges").fetchone()[0],
        "clean_credit_rows": credit[2],
        "transformed_rows": con.execute("SELECT count(*) FROM x").fetchone()[0],
    }
    for k, col in [("velocity_user_sum", "v_user"),
                   ("velocity_device_sum", "v_device"),
                   ("velocity_ip_sum", "v_ip")]:
        oracle[k] = con.execute(f"SELECT sum({col}) FROM x").fetchone()[0]
    oracle["country_counts"] = dict(con.execute(
        "SELECT country, count(*) FROM x GROUP BY 1").fetchall())
    c.check("fraud_batch Spark check values present", spark is not None)
    for k, v in oracle.items():
        got = (spark or {}).get(k)
        c.check(f"fraud_batch {k} equals DuckDB", got == v, f"spark={got} duckdb={v}")

    # invariants over the untraced sinks
    sinks = r["checks"]["sinks"]
    n_fraud = dict(con.execute("""SELECT class, count(*) FROM clean WHERE
        signup_time IS NOT NULL AND purchase_time IS NOT NULL GROUP BY 1""").fetchall())
    n_credit = {0: credit[0], 1: credit[1]}
    for name, n, id_col, n_names in [("fraud", n_fraud, "user_id", None),
                                     ("credit", n_credit, "__row_id", 30)]:
        q = lambda sql: con.execute(sql.format(s=sinks, n=name, id=id_col)).fetchall()
        test = dict(q("SELECT label, count(*) FROM '{s}/{n}_test/*.parquet' GROUP BY 1"))
        train = dict(q("SELECT label, count(*) FROM '{s}/{n}_train/*.parquet' GROUP BY 1"))
        for label, cnt in n.items():
            want = math.ceil(cnt * 0.2)
            c.check(f"fraud_batch {name} test label {label} is ceil(0.2 n)",
                    test.get(label) == want, f"test={test.get(label)} n={cnt} want={want}")
        majority = max(cnt - math.ceil(cnt * 0.2) for cnt in n.values())
        c.check(f"fraud_batch {name} train is SMOTE-balanced",
                set(train.values()) == {majority} and len(train) == len(n),
                f"train={train} majority={majority}")
        overlap, dup = q("""SELECT
            (SELECT count(*) FROM '{s}/{n}_test/*.parquet' WHERE {id} IN
               (SELECT {id} FROM '{s}/{n}_train/*.parquet')),
            (SELECT count(*) - count(DISTINCT {id}) FROM '{s}/{n}_test/*.parquet')""")[0]
        c.check(f"fraud_batch {name} test holds no synthetic rows",
                overlap == 0 and dup == 0, f"{overlap} test ids in train, {dup} repeated")
        names = q("SELECT count(*) FROM '{s}/{n}_feature_names/*.parquet'")[0][0]
        widths = q("""SELECT DISTINCT len(features) FROM (
            SELECT features FROM '{s}/{n}_train/*.parquet' UNION ALL
            SELECT features FROM '{s}/{n}_test/*.parquet')""")
        c.check(f"fraud_batch {name} vector width equals feature names",
                [w[0] for w in widths] == [names] and (n_names in (None, names)),
                f"widths={widths} names={names}")
    test_ids_real = con.execute(f"""SELECT count(*) FROM '{sinks}/fraud_test/*.parquet'
        WHERE user_id NOT IN (SELECT user_id FROM clean)""").fetchone()[0]
    c.check("fraud_batch fraud test ids are real rows", test_ids_real == 0,
            f"{test_ids_real} unknown ids")
    digests = {s: sink_digest(con, f"{sinks}/{s}") for s in SINKS}
    out = {"sinks": digests}
    traced = r["checks"].get("sinks_traced")
    if traced:
        t = {s: sink_digest(con, f"{traced}/{s}") for s in SINKS}
        out["sinks_traced"] = t
        for s in SINKS:
            c.check(f"fraud_batch traced sink {s} equals untraced",
                    t[s] == digests[s], f"traced={t[s]} untraced={digests[s]}")
    return out


def check_query_mix(r, c):
    """Each query's written result against its Registry oracle answer:
    tools/verify_local.py runs the oracle SQL the JVM wrote beside the
    results in DuckDB over the same tables and compares exactly."""
    results = Path(r["checks"]["results_dir"])
    verdict_file = results.parent / "verdicts.json"
    subprocess.call([sys.executable, str(ROOT / "tools" / "verify_local.py"),
                     str(results), str(DATA), "--json", str(verdict_file)],
                    stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    verdicts = json.loads(verdict_file.read_text()) if verdict_file.exists() else {}
    errors = {}
    for q in r["checks"]["queries"]:
        errors[q] = verdicts[q]["err"] if q in verdicts else "no verdict"
        c.check(f"query_mix {q} matches its oracle", errors[q] is None, errors[q])
    return {"verdicts": errors}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["fraud_batch", "fraud_stream", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    work = BUILD / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    r = run_jvm(cp, args, work)
    c = Checks()
    extra = {}
    if r is None:
        c.check(f"{args.workload} JVM produced a result", False, "see log above")
        r = {"attempted": 0, "failed": 0, "errors": [], "e2e": {}, "named": {},
             "layers": {}, "checks": {}, "trace": {}}
    else:
        try:
            if args.workload == "fraud_batch":
                extra = check_batch(r, c)
            elif args.workload == "query_mix":
                extra = check_query_mix(r, c)
        except Exception as e:  # a crashed check is a failed check
            import traceback
            traceback.print_exc()
            c.check(f"{args.workload} checks ran", False, repr(e))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = r["layers"] if args.trace else r["e2e"]
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    c.check(f"{args.workload} metrics measured", not missing, ", ".join(missing))
    attempted = int(r["attempted"]) + c.attempted
    failed = int(r["failed"]) + c.failed
    for e in r["errors"] + c.errors:
        log(f"error: {e}")
    if args.trace:
        (BUILD / "traces").mkdir(exist_ok=True)
        trace_path = BUILD / "traces" / f"{args.workload}-seed{args.seed}.json"
        trace = dict(r["trace"], workload=args.workload, seed=args.seed,
                     layers_metrics=r["layers"], checks=extra)
        trace_path.write_text(json.dumps(trace, indent=1, sort_keys=True))
        log(f"trace written to {trace_path}")
    named = dict(r["named"], failed_ratio=failed / attempted)
    print(f"[perfbench] {args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.6g}" for k, v in named.items()), flush=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
