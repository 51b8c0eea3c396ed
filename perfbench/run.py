#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <elt_daily|iterative_ops> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the harness (perfbench/build.sbt, which
compiles graft's sources with it). Each run then starts one JVM with
local[<cpus>] and one client thread, generates the seed's corpus with
graft.sources.ScaleGen, runs the workload (see perfbench/README.md), and
checks every checked output against DuckDB's replay of
SparkEntry.oracleSql on the same corpus. It prints one line per metric
and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A record of the run (and, traced,
its spans) is written under perfbench/out/. The exit code is 0 only when
every op ran and every checked output matched its oracle.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("elt_daily", "iterative_ops")
# the gated per-op metrics: op<i>_s is the median wall time of the
# workload's i-th op over its timed passes
OP_SLOTS = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--plant-mismatch", metavar="KEY",
                   help="corrupt the oracle of KEY (checks that a mismatch fails)")
    return p.parse_args()


# ----------------------------------------------------------------- build --

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with graft's sources once per source state and
    return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala: "
             "run from the root of a graft checkout")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log("building the harness with sbt")
    t0 = time.time()
    try:
        r = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(target, 'sbt-global')}",
             "-Dsbt.server.forcestart=false", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"sbt build failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file) as g:
        return g.read().strip()


# ------------------------------------------------------------------- run --

def run_jvm(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", repr(args.seconds), "--trace", str(args.trace),
            "--work", work]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail("harness JVM " + ("timed out" if code is None else f"exited with {code}"), 3)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ----------------------------------------------------------- correctness --

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


def fingerprint_sql(con, src):
    """(count, order-independent hash) of a relation, columns taken in name
    order. Decimal is read as double and timestamp-with-zone as UTC
    timestamp on each side, the repo's output normalization; the row
    hash is DuckDB's hash of the list of cells (tools/fingerprint_check.py)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    exprs = []
    for name, typ, *_ in sorted(cols, key=lambda c: c[0].lower()):
        c = f'"{name}"'
        t = typ.upper()
        if t.startswith("DECIMAL"):
            c = f"CAST({c} AS DOUBLE)"
        elif t in ("TIMESTAMP WITH TIME ZONE", "TIMESTAMPTZ"):
            c = f"CAST({c} AS TIMESTAMP)"
        elif t == "HUGEINT":
            c = f"CAST({c} AS BIGINT)"
        exprs.append(f"CAST({c} AS VARCHAR)")
    names = sorted(c[0].lower() for c in cols)
    sql = (f"SELECT COUNT(*), COALESCE(SUM(hash(list_value({', '.join(exprs)}))), 0) "
           f"FROM {src}")
    return names, sql


CTE_HEAD = re.compile(r"\s*,?\s*(\w+)\s+AS\s*\(", re.IGNORECASE)


def split_ctes(sql):
    """A query's leading WITH list as [(name, body)] plus the rest of the
    query, or None when it has none. Skips quoted text and comments while
    matching parentheses."""
    s = sql.lstrip()
    if s[:4].upper() != "WITH" or s[4:5].isalnum() or s[4:5] == "_":
        return None
    i, ctes = 4, []
    while True:
        m = CTE_HEAD.match(s, i)
        if not m or m.group(1).upper() in ("SELECT", "RECURSIVE"):
            break
        j = k = m.end()
        depth = 1
        while depth:
            if k >= len(s):
                return None
            ch = s[k]
            if ch in "'\"":
                end = s.find(ch, k + 1)
                k = len(s) if end < 0 else end
            elif s.startswith("--", k):
                end = s.find("\n", k)
                k = len(s) if end < 0 else end
            elif s.startswith("/*", k):
                end = s.find("*/", k + 2)
                k = len(s) if end < 0 else end + 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            k += 1
        ctes.append((m.group(1), s[j:k - 1]))
        i = k
    return (ctes, s[i:]) if ctes else None


def with_clause(ctes, rest, sql_text):
    """Rebuild a query from CTEs and its tail, marking MATERIALIZED the
    CTEs the query references more than once: DuckDB then evaluates a
    shared CTE once instead of once per reference (the schema-test oracle
    reuses the model CTEs dozens of times)."""
    if not ctes:
        return rest
    def head(name):
        shared = len(re.findall(rf"\b{re.escape(name)}\b", sql_text)) >= 3
        return f"{name} AS MATERIALIZED" if shared else f"{name} AS"
    return "WITH " + ",\n".join(f"{head(n)} ({b})" for n, b in ctes) + "\n" + rest


class OracleRunner:
    """Fingerprints oracle queries. The CTE prefix that several oracles
    share (the ecom staging and model chain) is built once as tables in a
    schema of its own, and each oracle then runs only its own tail over
    them; the results are the same as running each oracle whole."""

    def __init__(self, con, oracles):
        self.con = con
        self.parts = {k: split_ctes(q) for k, q in oracles.items()}
        self.oracles = oracles
        parsed = [p[0] for p in self.parts.values() if p]
        self.shared = []
        if len(parsed) >= 2:
            firsts = [c[0] for c in parsed]
            first = max(set(firsts), key=firsts.count)
            group = [c for c in parsed if c[0] == first]
            if len(group) >= 2:
                n = 0
                while all(len(c) > n and c[n] == group[0][n] for c in group):
                    n += 1
                self.shared = group[0][:n]
        self.built = False

    def _build_shared(self):
        self.con.execute("CREATE SCHEMA oracle_prefix")
        self.con.execute("SET search_path = 'oracle_prefix,main'")
        try:
            for name, body in self.shared:
                self.con.execute(f"CREATE TABLE oracle_prefix.{name} AS {body}")
        finally:
            self.con.execute("SET search_path = 'main'")
        self.built = True

    def fingerprint(self, key):
        p = self.parts.get(key)
        n = len(self.shared)
        if p and n and p[0][:n] == self.shared:
            if not self.built:
                self._build_shared()
            sql = with_clause(p[0][n:], p[1], self.oracles[key])
            self.con.execute("SET search_path = 'oracle_prefix,main'")
            try:
                return self._fp(sql)
            finally:
                self.con.execute("SET search_path = 'main'")
        if p:
            return self._fp(with_clause(p[0], p[1], self.oracles[key]))
        return self._fp(self.oracles[key])

    def _fp(self, sql):
        names, fp_sql = fingerprint_sql(self.con, f"({sql}) AS oracle_q")
        return names, tuple(self.con.execute(fp_sql).fetchone())


def check_outputs(result, oracle_path, plant):
    with open(oracle_path) as f:
        oracles = json.load(f)
    if plant:
        if plant not in oracles:
            fail(f"--plant-mismatch {plant}: not a checked key of this workload")
        q = oracles[plant]
        oracles[plant] = (f"SELECT * FROM ({q}) AS planted_a UNION ALL "
                          f"(SELECT * FROM ({q}) AS planted_b LIMIT 1)")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    corpus = result["corpus_dir"]
    for t in CORPUS_TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.isdir(p):
            # loaded once: every oracle replay rescans these tables
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(p, '*.parquet')}')")
    runner = OracleRunner(con, oracles)
    outcomes = []
    oracle_fp = {}
    for c in result["checks"]:
        key, d = c["key"], c["dir"]
        try:
            if key not in oracle_fp:
                oracle_fp[key] = runner.fingerprint(key)
            on, ofp = oracle_fp[key]
            sn, s_sql = fingerprint_sql(con, f"read_parquet('{d}/*.parquet')")
            sfp = tuple(con.execute(s_sql).fetchone())
            ok = sn == on and sfp == ofp
            detail = f"spark={sfp} oracle={ofp}" + (
                "" if sn == on else f" columns spark={sn} oracle={on}")
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        outcomes.append({"key": key, "stage": c["stage"], "ok": ok, "detail": detail[:300]})
    for c in result["failed_checks"]:
        outcomes.append({"key": c["key"], "stage": c["stage"], "ok": False,
                         "detail": c["error"]})
    return outcomes


def corpus_stats(corpus):
    con = duckdb.connect()
    rows, total = {}, 0
    for t in CORPUS_TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if not os.path.isdir(p):
            continue
        for d, _, fs in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in fs
                         if f.endswith(".parquet"))
        rows[t] = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{os.path.join(p, '*.parquet')}')").fetchone()[0]
    return total, rows


# --------------------------------------------------------------- metrics --

def tail_percentile(samples):
    """The highest of p50/p75/p90/p95/p99 (nearest rank) with at least ten
    samples beyond it, as (label, value, n); label is None when there are
    too few samples for any."""
    xs = sorted(samples)
    n = len(xs)
    best = (None, None, n)
    for p in (50, 75, 90, 95, 99):
        rank = max(1, -(-n * p // 100))
        if n - rank >= 10:
            best = (f"p{p}", xs[rank - 1], n)
    return best


def summarize(args, result, outcomes, corpus_bytes, corpus_rows):
    passes = result["passes"]
    timed = [p for p in passes if not p["traced"]] or passes
    elt = args.workload == "elt_daily"
    # A failed check condemns the timed executions of its key; for the
    # pipeline (checked from pass 0's outputs) it condemns the stage that
    # made the output.
    bad = {o["stage"] if elt else o["key"] for o in outcomes if not o["ok"]}
    def condemned(op, p):
        return op["name"] in bad and (not elt or p == 0)
    failed = sum(1 for p in passes for op in p["ops"] if not op["ok"] or condemned(op, p["pass"]))
    attempted = sum(len(p["ops"]) for p in passes)
    walls = [op["wall_s"] for p in timed for op in p["ops"]]
    label, tail, n = tail_percentile(walls)
    names = [op["name"] for op in timed[0]["ops"]]
    if len(names) != OP_SLOTS:
        fail(f"{args.workload} runs {len(names)} ops per pass, expected {OP_SLOTS}")
    e2e = {
        "setup_s": (result["setup_s"], "s"),
        "run_s": (statistics.median(p["wall_s"] for p in timed), "s"),
    }
    for i, name in enumerate(names):
        e2e[f"op{i + 1}_s"] = (statistics.median(p["ops"][i]["wall_s"] for p in timed), "s")
    extra = {
        "op_p50_s": (statistics.median(walls), "s"),
        "failed_ratio": (failed / attempted, "ratio"),
        "passes": (len(timed), "count"),
        "ops": (len(walls), "count"),
        "sources.generate_s": (result["generate_s"], "s"),
        "sources.corpus_bytes": (corpus_bytes, "bytes"),
    }
    if label:
        extra["op_tail_s"] = (tail, "s")
    if elt:
        first = timed[0]
        for op in first["ops"]:
            extra[f"elt.{op['name']}_s"] = (op["wall_s"], "s")
        extra["write_amp"] = (first["write_bytes"] / corpus_bytes, "ratio")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": result["sf"], "cpus": result["cpus"],
        "corpus_bytes": corpus_bytes, "corpus_rows": corpus_rows,
        "op_tail": {"percentile": label, "n": n}, "op_names": names,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "extra": {k: v for k, (v, _) in extra.items()},
        "checks": outcomes, "attempted": attempted, "failed": failed,
        "correct": failed == 0 and all(o["ok"] for o in outcomes),
        "passes": passes, "session_s": result["session_s"],
        "warmup_s": result["warmup_s"], "jvm": result["jvm"],
    }
    return e2e, extra, record, attempted, failed


def overhead_ratio(args, result, out_dir):
    passes = result["passes"]
    traced = [p["wall_s"] for p in passes if p["traced"]]
    idle = [p["wall_s"] for p in passes if not p["traced"]]
    if traced and idle:
        return statistics.median(traced) / statistics.median(idle), \
            f"in-run: {len(traced)} traced vs {len(idle)} untraced passes"
    base = []
    for f in sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []:
        if f.endswith("-trace0.json"):
            with open(os.path.join(out_dir, f)) as fh:
                base.append(json.load(fh)["end_to_end"]["run_s"])
    run_s = statistics.median(traced)
    if base:
        return run_s / statistics.median(base), f"untraced records: n={len(base)}"
    return 1 + result["tracer_self_s"] / run_s, "listener self time (no untraced record)"


def main():
    args = parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    cp = build()
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        result = run_jvm(cp, args, work)
        log(f"harness JVM ran {time.time() - t0:.1f}s")
        t0 = time.time()
        outcomes = check_outputs(result, os.path.join(work, "oracle_sql.json"),
                                 args.plant_mismatch)
        log(f"checked {len(outcomes)} outputs in {time.time() - t0:.1f}s")
        corpus_bytes, corpus_rows = corpus_stats(result["corpus_dir"])
        e2e, extra, record, attempted, failed = summarize(
            args, result, outcomes, corpus_bytes, corpus_rows)
        out_dir = os.path.join(HERE, "out", args.workload)
        os.makedirs(out_dir, exist_ok=True)
        stem = f"seed{args.seed}-{int(time.time() * 1000)}-trace{args.trace}"
        if args.trace:
            layers = dict(result["layers"])
            layers["sources.corpus_bytes"] = float(corpus_bytes)
            ratio, base = overhead_ratio(args, result, out_dir)
            layers["trace.overhead_ratio"] = ratio
            record.update(layers=layers, overhead_base=base, per_op=result["per_op"],
                          rollup=result["rollup"], spans=f"{stem}.spans.jsonl")
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out_dir, f"{stem}.spans.jsonl"))
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    for o in outcomes:
        if not o["ok"]:
            log(f"MISMATCH {o['key']} ({o['stage']}): {o['detail']}")
    lines = dict(e2e, **extra)
    if args.trace:
        lines = {k: (m["value"], m["unit"]) for k, m in metrics.items()}
    for k, (v, u) in lines.items():
        print(f"{k} {v} {u}")
    if "op_tail_s" in extra:
        print(f"op_tail_percentile {record['op_tail']['percentile']} "
              f"n={record['op_tail']['n']}")
    print("ops " + " ".join(f"op{i + 1}={n}" for i, n in enumerate(record["op_names"])))
    print(f"cpus {result['cpus']} sf {result['sf']} seed {args.seed} "
          f"corpus_rows {json.dumps(corpus_rows, sort_keys=True)}")
    correct = record["correct"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
