#!/usr/bin/env python3
"""Benchmark of the graft engine: two closed-loop workloads, one client
each, on local[4].

    python3 perfbench/run.py --workload dashboard|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds everything once
under perfbench/.work: the library and this harness (sbt, offline), the
sf0.1 corpus, its staged and ×10 copies, and the DuckDB oracle's
answers. Each run then makes its inputs from the seed, runs the JVM
side, checks every answer and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics; --trace 1 runs the traced tour (a slice of each
workload and of a batch pass over the ×10 corpus) and reports the
per-layer metrics. A health line (process CPU, GC, host
load, gate routes) is printed just before it.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170

# what the library's build gives its forked JVMs (Spark 4 on JDK 17)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# the cost of one unit of work on a 4-core host, to size a run from
# --seconds: a dashboard read, a block of ten ingest batches with its
# compaction
READ_S = 0.8
BLOCK_S = 20.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_tree():
    for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} is missing: run from the root of a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, f) for f in ("build.sbt", "project/build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if not x.startswith(".") and x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))
                      or n in ("gen.py", "oracle.py", "workloads.py")]
    for f in files:
        if os.path.exists(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    """Offline sbt, as the repository's own test command runs it, with
    its temporary files kept in the checkout."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(WORK, "tmp")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    # every JVM the launcher starts, its version probe too: no hsperfdata
    # file under the system's temporary directory
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    return env


def java(cp, args, log, timeout):
    # a fixed, pre-touched heap: no growth or first-touch decisions to
    # vary the footprint between runs, so peak RSS moves with the
    # process's native memory
    cmd = (["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-cp", cp, "perfbench.Main"] + [str(a) for a in args])
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM step {args[0]} ended with {rc}")


def build():
    """Build once per source state; later runs reuse it."""
    import gen
    import oracle
    import workloads
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=600)
    cps = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")
           and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed")
    with open(os.path.join(WORK, "classpath"), "w") as fh:
        fh.write(cps[-1].strip())
    corpus = os.path.join(WORK, "corpus")
    gen.corpus(corpus)
    names = sorted(set(workloads.PANELS + workloads.BATCH))
    java(cps[-1].strip(), ["prepare", WORK, corpus, *names],
         os.path.join(WORK, "prepare.log"), 600)
    sql = json.load(open(os.path.join(WORK, "oracle_sql.json")))
    dirs = json.load(open(os.path.join(WORK, "prepared.json")))
    os.makedirs(os.path.join(WORK, "oracle"))
    for key, queries in (("sf", workloads.PANELS), ("x10", workloads.BATCH)):
        con = oracle.connect(dirs[key])
        for q in queries:
            con.execute(sql[q]).df().to_pickle(os.path.join(WORK, "oracle", f"{key}.{q}.pkl"))
        con.close()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def write_inputs(run_dir, workload, seed, seconds, trace):
    """Everything the JVM side runs, made from the seed; how much of it
    runs follows from --seconds (the tour runs fixed slices)."""
    import gen
    import workloads
    def put(name, lines):
        with open(os.path.join(run_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    n_reads = workloads.TOUR_READS if trace else max(12, round(seconds / READ_S))
    n_blocks = 1 if trace else max(1, round(seconds / BLOCK_S))
    seq = workloads.dashboard_sequence(seed, n_reads)
    # warm-up serves each panel the run reads once, building its artifacts
    put("dashboard.panels", list(dict.fromkeys(seq)))
    put("dashboard.seq", seq)
    put("batch.order", workloads.batch_order(seed))
    put("batch.artifacts", workloads.ARTIFACTS)
    steps = []
    if trace or workload == "ingest":
        steps = gen.landing(os.path.join(WORK, "corpus", "events.parquet"),
                            os.path.join(run_dir, "landing"), seed)
        if trace:  # a few fresh batches and a replay of one of them
            fresh = [s for s in steps if s["kind"] == "fresh"][:workloads.TOUR_STEPS - 1]
            again = fresh[seed % len(fresh)]
            steps = fresh + [dict(again, kind="replay", valid=0, value_sum="0", user_bytes=0)]
        else:
            steps = steps[:10 * n_blocks]
    put("ingest.tsv", [f"{s['step']}\t{s['kind']}\t{s['id']}\t{s['format']}\t{s['path']}\t"
                       + ",".join(s["days"]) for s in steps])
    return steps


def check_answers(jvm):
    """Oracle-compare the first answer of every query; returns the
    failing keys (later answers the JVM held to the first)."""
    import pandas as pd
    import oracle
    bad = []
    for c in jvm["checks"]:
        ref = os.path.join(WORK, "oracle", c["key"].replace("/", ".") + ".pkl")
        why = oracle.compare(c["path"], pd.read_pickle(ref)) if os.path.exists(ref) \
            else "no oracle answer"
        if why:
            bad.append(c["key"])
            print(f"perfbench: wrong answer {c['key']}: {why}", file=sys.stderr)
    return bad


def check_ingest(run, steps):
    """Per batch: quarantined rows = injected bad rows and the append
    sink holds every valid row sent so far; a replay commits no version;
    at the end both tables hold exactly the generator's distinct valid
    rows, by count and decimal Σvalue. Returns failed batch count."""
    from decimal import Decimal
    failed, total, vsum = 0, 0, Decimal(0)
    version = 0
    for op, st in zip(run["ops"], steps):
        total += st["valid"]
        vsum += Decimal(st["value_sum"])
        ok = (op["ok"] and op.get("quarantined") == st["bad"] and op.get("sink_rows") == total
              and (st["kind"] == "fresh" or op.get("version") == version))
        version = op.get("version")
        if not ok:
            failed += 1
            print(f"perfbench: ingest step {st['step']} wrong: {op}", file=sys.stderr)
    if len(run["ops"]) != len(steps):
        failed += abs(len(steps) - len(run["ops"]))
    for name in ("versioned", "append"):
        t = run["tables"][name]
        if t["rows"] != total or Decimal(t["value_sum"]) != vsum:
            failed += 1
            print(f"perfbench: {name} table holds {t}, expected {total} rows, Σ {vsum}",
                  file=sys.stderr)
    return failed


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def tail(lat):
    """The run's tail latency as (value, percentile, samples beyond it):
    the highest percentile with at least ten samples beyond it once that
    is p90 or higher (100 samples on), before that p90 itself, linear
    between order statistics. (A run of 20 reads would otherwise report
    its median.)"""
    s = sorted(lat)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    v = statistics.quantiles(s, n=10, method="inclusive")[-1]
    return v, 90.0, sum(1 for x in s if x > v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    check_tree()
    # temporary files of this process and every process it starts (sbt,
    # the JVM, native libraries such as libffi) stay in the checkout
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, HERE)
    try:
        import duckdb, numpy, pandas, pyarrow  # noqa: F401
    except ImportError as e:
        fail(f"python module missing: {e}")
    build()
    t0 = time.time()  # the first run may also build; the limit is for the run
    run_dir = os.path.join(WORK, "runs", a.workload + (".trace" if a.trace else ""))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steps = write_inputs(run_dir, a.workload, a.seed, a.seconds, a.trace)
    cp = open(os.path.join(WORK, "classpath")).read()
    dirs = json.load(open(os.path.join(WORK, "prepared.json")))
    load0 = os.getloadavg()[0]
    java(cp, ["run", WORK, a.workload, run_dir, dirs["sf"], dirs["x10"]]
         + (["trace"] if a.trace else []),
         os.path.join(run_dir, "jvm.log"), max(10, RUN_LIMIT_S - (time.time() - t0)))
    jvm = json.load(open(os.path.join(run_dir, "jvm.json")))
    load1 = os.getloadavg()[0]

    wrong = set(check_answers(jvm))
    ops = jvm.get("ops", [])
    checked = ops + jvm.get("warm", [])
    attempted = len(checked)
    failed = sum(1 for o in checked if not o["ok"] or o.get("key") in wrong)
    for run in jvm.get("ingest", []):
        attempted += len(run["ops"]) + len(run["maintenance"])
        failed += check_ingest(run, steps) + sum(1 for o in run["maintenance"] if not o["ok"])
    if attempted == 0:
        fail("no operation ran")

    health = {"workload": a.workload, "seed": a.seed,
              "load_1m_start": load0, "load_1m_end": load1,
              "process_cpu_s": jvm["health"]["process_cpu_s"],
              "jvm_gc_s": jvm["health"]["jvm_gc_s"],
              "gates": json.load(open(os.path.join(WORK, "gates.json")))}
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(jvm["layers"].items())}
        t = jvm["ingest"][1]
        user = sum(s["user_bytes"] for s in steps)
        metrics["sinks.bytes_per_user_byte"] = {
            "value": dir_bytes(t["tables"]["root"]) / user, "unit": "ratio"}
    else:
        # an operation is a read or an ingest batch
        run_s = jvm["loop_s"]
        if a.workload == "ingest":
            run = jvm["ingest"][0]
            lat = [o["s"] for o in run["ops"]]
            health["committed_rows_per_s"] = sum(s["valid"] for s in steps) / run_s
            health["bytes_per_user_byte"] = (dir_bytes(run["tables"]["root"])
                                             / sum(s["user_bytes"] for s in steps))
        else:
            lat = [o["s"] for o in ops]
        t_val, t_pct, t_beyond = tail(lat)
        health.update(op_tail_pct=t_pct, op_tail_beyond=t_beyond, ops=len(lat), loop_s=run_s)
        metrics = {
            "setup_s": {"value": jvm["setup_s"], "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": t_val, "unit": "s"},
            "ops_per_s": {"value": len(lat) / run_s, "unit": "1/s"},
            "peak_rss_mb": {"value": jvm["health"]["peak_rss_mb"], "unit": "MB"},
        }
    health["failed_ratio"] = failed / attempted
    print(json.dumps({"health": health}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix) or f"{suffix}." in name:
            return unit
    return "count"


if __name__ == "__main__":
    main()
