#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload search|board --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the program and the harness from
source (once per source state, cached in .bench_build/), generates the
workload's inputs from the seed, runs the harness in one JVM, checks the
outputs and prints one JSON line as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # whole run, including the JVM
HEAP = "3g"

sys.path.insert(0, HERE)
import gen  # noqa: E402

SIZES = {"search": {"trials": 4000, "requests": 400}}

# Per-layer metrics by the prefix of the layer a workload calls. A traced
# run fails if one of its own layers is missing; the other workload's
# layers read 0, meaning "not measured on this workload".
LAYERS = {
    "search": ("corpus.", "extract.", "merge.", "views.", "registry.", "sinks.",
               "search.", "xlsx.", "trace."),
    "board": ("caches.", "board.", "trace."),
}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def classpath():
    """Compile program + harness with sbt unless this source state was built."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources (build.sbt, src/main/scala) not found under " + ROOT)
    h = hashlib.sha256()
    for p in source_files():
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "export perfbench/Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                             text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=850)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)  # sbt's JVM too, not just its launcher
            p.communicate()
            fail("build exceeded 850 s (log: %s)" % log)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(stdout[-3000:])
        fail("build failed (log: %s)" % log)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def fixture():
    """The board fixture, generated once per generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(BUILD, "fixture-" + tag)
    if not os.path.isfile(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.board_fixture(d)
        open(os.path.join(d, "done"), "w").close()
    return d


def write_requests(path, reqs):
    with open(path, "w") as f:
        for r in reqs:
            w = r["where"]
            f.write("\t".join([str(r["hits"]), r["template"]] + [w.get(t, "") for t in
                                                  ("trial", "imp", "sponsor", "location")]) + "\n")


def prepare(workload, seed, work):
    """Generate inputs into `work`; return what the checks need."""
    if workload == "search":
        trials, expected = gen.etl_corpus(os.path.join(work, "corpus.txt"), seed, SIZES["search"]["trials"])
        write_requests(os.path.join(work, "requests.tsv"),
                       gen.search_stream(seed, trials, SIZES["search"]["requests"]))
        write_requests(os.path.join(work, "warm_requests.tsv"),
                       gen.search_stream(seed + 1000003, trials, 6))
        return expected
    if workload == "board":
        os.symlink(fixture(), os.path.join(work, "fixture"))
        with open(os.path.join(HERE, "board_queries.tsv")) as f:
            rows = [l.rstrip("\n") for l in f if l.strip() and not l.startswith("#")]
        random.Random(seed).shuffle(rows)
        with open(os.path.join(work, "board_order.tsv"), "w") as f:
            f.write("\n".join(rows) + "\n")
        return None
    fail("unknown workload " + workload)


def run_jvm(cp, args, work, budget):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"] + [x for p in opens for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + work,
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SQLCONF", None)
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("harness exceeded %ds (log: %s)" % (budget, log))
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness exited with %d" % rc)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_etl(work, expected):
    """Read every ETL output back with DuckDB and compare with the generator.

    Returns one error text (empty when correct) per output directory."""
    import duckdb
    con = duckdb.connect()
    sample = expected["sample"]
    cols = ["overall_status", "official_title", "sponsor_id", "condition",
            "enrollment", "completion_date", "placebo"]
    root = os.path.join(work, "etl")
    out = []
    for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        d = os.path.join(root, name)
        errs = []
        for table, n in expected["counts"].items():
            got = con.execute("SELECT count(*) FROM read_parquet('%s/%s/*.parquet')"
                              % (d, table)).fetchone()[0]
            if got != n:
                errs.append("%s rows %d != %d" % (table, got, n))
        ids = ",".join("'%s'" % k for k in sample)
        rows = con.execute("SELECT eudract_id, %s FROM read_parquet('%s/trial/*.parquet') "
                           "WHERE eudract_id IN (%s)" % (", ".join(cols), d, ids)).fetchall()
        if len(rows) != len(sample):
            errs.append("sampled trials found %d of %d" % (len(rows), len(sample)))
        for r in rows:
            want = sample[r[0]]
            for c, v in zip(cols, r[1:]):
                if v != want[c]:
                    errs.append("%s.%s = %r, expected %r" % (r[0], c, v, want[c]))
                    break
        out.append("; ".join(["etl " + name] + errs[:3]) if errs else "")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = classpath()
    t_start = time.time()  # the build, done once per checkout, has its own limit
    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail("unknown workload " + a.workload)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = prepare(a.workload, a.seed, work)
    budget = max(30, int(DEADLINE_S - (time.time() - t_start)))
    res = run_jvm(cp, ["--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
                       "--trace", str(a.trace)], work, budget)
    ops = res["ops"]
    if a.workload == "search":
        # each set-up's ETL output is an attempted op of its own, untimed
        etl = check_etl(work, expected)
        if len(etl) < len(res["setup_s"]):
            fail("expected %d ETL outputs, found %d" % (len(res["setup_s"]), len(etl)))
        ops = ops + [{"ms": None, "ok": not e, "err": e} for e in etl]
    failed = [o for o in ops if not o["ok"]]
    for o in failed[:5]:
        print("perfbench: failed op: " + o["err"], file=sys.stderr)
    # each op of the mix (request template, board query) reduces to the
    # median of its successful runs, so every run weighs them equally
    if len({o["key"] for o in res["ops"]}) < res["mix"]:
        fail("not every op of the mix ran")
    by_key = {}
    for o in res["ops"]:
        if o["ok"]:
            by_key.setdefault(o["key"], []).append(o["ms"])
    ok_ms = sorted(statistics.median(v) for v in by_key.values())
    if len(ok_ms) < 2:
        fail("fewer than two ops of the mix succeeded; nothing to report")
    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        mine = [n for n in names if n.startswith(LAYERS[a.workload])]
        missing = [n for n in mine if n not in res["layers"]]
        unknown = [n for n in res["layers"] if n not in mine]
        if missing or unknown:
            fail("traced run: missing layers %s, unlisted layers %s" % (missing, unknown))
        values = {n: float(res["layers"][n]) if n in mine else 0.0 for n in names}
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "p50_ms": statistics.median(ok_ms),
            "p95_ms": statistics.quantiles(ok_ms, n=20, method="inclusive")[18],
            # one closed-loop client: one round of the mix, each op at its median
            "ops_per_s": 1000.0 * len(ok_ms) / sum(ok_ms),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for k, v in sorted(res["extra"].items()):
        print("perfbench: %s = %s" % (k, v), file=sys.stderr)
    if a.workload == "board":
        print("perfbench: board_s = %.3f (sum of per-query medians)" % (sum(ok_ms) / 1e3), file=sys.stderr)
    print("perfbench: setups %s, measured %.1f s, run %.1f s, ops %s" % (
        ["%.2f" % x for x in res["setup_s"]], res["measured_s"], time.time() - t_start,
        ["%.0f" % x for x in ok_ms][:40]), file=sys.stderr)
    out = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
           "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
