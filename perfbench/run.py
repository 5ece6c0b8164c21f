#!/usr/bin/env python3
"""graft benchmark: STAC serving latency and the analytics gate sweep.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) into the checkout; later runs reuse the
build while the sources are unchanged. Each run generates its fixture and
requests from `--seed`, precomputes the expected outputs with DuckDB,
starts one JVM that sets up graft and drives the workload, checks every
output and prints a report. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.

Workloads (see README.md):
  stac        HTTP requests against StacHttp: reads in an open loop, a
              closed loop, then the reads with one request in five a write
  gate-sweep  a stratified sample of SparkEntry.queries gates
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
BUILD = os.path.join(ROOT, ".bench_build")
CONFIG = json.load(open(os.path.join(HERE, "config.json")))
WORKLOADS = ("stac", "gate-sweep")
DEADLINE_S = 170  # a run must end within 180 s

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

T0 = time.monotonic()
sys.dont_write_bytecode = True  # no __pycache__ left in the checkout


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build
def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} next to perfbench/: run from a full checkout of the repository")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        cached = json.load(open(cp_file))
        if cached["stamp"] == stamp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    # sbt's own state, scratch files and server socket stay in the checkout
    sbt_home = os.path.join(BUILD, "sbt")
    os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
            f"-Dsbt.boot.directory={sbt_home}/boot", f"-Dsbt.global.base={sbt_home}/global",
            f"-Dsbt.ivy.home={sbt_home}/ivy", f"-Djava.io.tmpdir={sbt_home}/tmp",
            f"-Djna.tmpdir={sbt_home}/tmp"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building with sbt (first run in this checkout)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("sbt build failed")
    cp = lines[-1].strip().split(os.pathsep)
    if not all(os.path.exists(x) for x in cp):
        die("sbt printed a classpath with missing entries")
    os.makedirs(BUILD, exist_ok=True)
    json.dump({"stamp": stamp, "classpath": cp}, open(cp_file, "w"))
    log("build done")
    return cp


# --------------------------------------------------------------- fixtures
def fixture(seed, sf, tables=None):
    """Seeded fixture directory, generated once per (seed, sf, tables)."""
    import fixture as fx
    tables = tables or fx.TABLES
    suffix = "" if tables == fx.TABLES else "-" + "-".join(tables)
    out = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}{suffix}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        fx.generate(tmp, seed, sf, tables)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


# -------------------------------------------------------------------- jvm
def run_jvm(cp, cfg, work):
    cfg_path = os.path.join(work, "config.json")
    out_path = os.path.join(work, "result.json")
    json.dump(cfg, open(cfg_path, "w"))
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{CONFIG['jvm_heap']}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-cp", os.pathsep.join(cp),
            "graftbench.Main", cfg_path, out_path])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    budget = DEADLINE_S - (time.monotonic() - T0)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("benchmark JVM exceeded the run's time limit")
    if proc.returncode != 0 or not os.path.exists(out_path):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        die(f"benchmark JVM exited with {proc.returncode}")
    return json.load(open(out_path))


# ---------------------------------------------------------------- metrics
def quantile(xs, q):
    """Nearest-rank quantile; inf for a failed sample keeps it above any limit."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))
    return s[k]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def stac_metrics(res, failed):
    """Every STAC end-to-end figure, as (value, unit, samples). `failed`
    holds the ids of failed requests per list; open-loop ids are unique
    across the two open-loop lists."""
    bad = failed["open"] | failed["open_rw"]

    def lat(r):
        if r["i"] in bad or r.get("status", -1) == -1:
            return float("inf")
        return (r["end"] - r["due"]) / 1000.0

    def stat(f, recs, unit="ms"):
        return (f([lat(r) for r in recs]) if recs else float("nan"), unit, len(recs))

    reads = res["open"]
    first = [r for r in reads if "search" in r["route"] and r["page"] == 0]
    rw_reads = [r for r in res["open_rw"] if not r["route"].startswith("write")]
    writes = [r for r in res["open_rw"] if r["route"].startswith("write")]
    m = {
        "read_p50_ms": stat(median, reads),
        "read_p95_ms": stat(lambda x: quantile(x, 0.95), reads),
        "search_p50_ms": stat(median, first),
        "page_next_p50_ms": stat(median, [r for r in reads if r["page"] > 0]),
        "lookup_p50_ms": stat(median, [r for r in reads if r["route"] == "item"]),
        "rw_read_p50_ms": stat(median, rw_reads),
        "write_p50_ms": stat(median, writes),
        "write_p95_ms": stat(lambda x: quantile(x, 0.95), writes),
        "open_read_p50_ms": stat(median, reads + rw_reads),
    }
    # capacity: each closed-loop client's correct exchanges over the time
    # to its last completion, summed over clients
    per_client = {}
    for r in res["closed"]:
        n, t = per_client.get(r["client"], (0, 0))
        per_client[r["client"]] = (n + (r["i"] not in failed["closed"]), max(t, r["end"]))
    m["capacity_rps"] = (sum(n / (t / 1e6) for n, t in per_client.values() if t > 0),
                         "1/s", len(res["closed"]))
    limit = CONFIG["stac"]["latency_limit_ms"]
    over = [r for r in reads + rw_reads if lat(r) > limit]
    m["over_limit"] = (len(over), "count", len(reads) + len(rw_reads))
    return m


def gate_metrics(res):
    secs = [g["secs"] for g in res["gates"] if "err" not in g]
    n = len(secs)
    return {
        "gate_p50_s": (median(secs), "s", n),
        "gate_p90_s": (quantile(secs, 0.90), "s", n),
        "sweep_s": (sum(secs), "s", n),
        "gate_mean_s": (sum(secs) / n if n else float("nan"), "s", n),
        "gates_per_s": (n / sum(secs) if n else float("nan"), "1/s", n),
    }


# ------------------------------------------------------------ correctness
def check_gates(res, data_dir, dump):
    """(gate, reason) for every gate whose output differs from its oracle."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import verify_local as vl  # the repository's own oracle comparison
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in vl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(dump, "oracle_sql.json")))
    bad = []
    for g in res["gates"]:
        name = g["gate"]
        out = os.path.join(dump, name)
        files = sorted(f for f in os.listdir(out) if f.endswith(".parquet")) \
            if os.path.isdir(out) else []
        if "err" in g:
            bad.append((name, f"failed: {g['err'][:200]}"))
        elif not files:
            bad.append((name, "no output"))
        elif name not in oracles:
            bad.append((name, "no oracle SQL"))
        else:
            spark_df = pd.concat([pd.read_parquet(os.path.join(out, f)) for f in files],
                                 ignore_index=True)
            try:
                duck_df = con.execute(oracles[name]).fetchdf()
            except duckdb.Error as e:
                bad.append((name, f"oracle error {str(e)[:200]}"))
                continue
            scols, srows = vl.frame_key(spark_df)
            dcols, drows = vl.frame_key(duck_df)
            if scols != dcols:
                bad.append((name, f"columns {scols} != {dcols}"))
            elif len(srows) != len(drows):
                bad.append((name, f"rows {len(srows)} != {len(drows)}"))
            elif not all(vl.cells_equal(a, b) for sr, dr in zip(srows, drows)
                         for a, b in zip(sr, dr)):
                bad.append((name, "values differ"))
    return bad


# ------------------------------------------------------------------- main
def emit(correct, attempted, failed, metrics):
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    sys.path.insert(0, HERE)

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, digest = run(a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m, correct, attempted, failed, reasons, layers = report
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print(f"request digest {digest}")
    for k, (v, unit, n) in m.items():
        print(f"  {k:<22} {v:>12.4f} {unit:<6} n={n}")
    for r in reasons[:20]:
        print(f"  FAIL {r}")
    if a.trace:
        for k, v in layers["layers"].items():
            print(f"  layer {k:<34} {v:.4f}")
        for k, row in sorted(layers.get("breakdown", {}).items()):
            print(f"  self  {k:<50} calls={row['calls']:<5} self_ms={row['self_ms']:.2f}")
        print(f"  blocking-path self-time error {layers.get('blocking_path_error', 0):.4f}")
        names = [x["name"] for x in bench["per_layer"]]
        units = {x["name"]: x["unit"] for x in bench["per_layer"]}
        out = {k: {"value": float(layers["layers"].get(k, 0.0)), "unit": units[k]} for k in names}
    else:
        out = {}
        for x in bench["end_to_end"]:
            v = declared(x["name"], m, a.workload)
            out[x["name"]] = {"value": v, "unit": x["unit"]}
    emit(correct, attempted, failed, out)


def declared(name, m, workload):
    """The declared end-to-end metric for one workload (see README.md)."""
    gate = workload == "gate-sweep"
    key, scale = {
        "setup_s": ("setup_s", 1.0),
        "op_p50_ms": ("gate_p50_s", 1000.0) if gate else ("open_read_p50_ms", 1.0),
        "ops_per_s": ("gates_per_s", 1.0) if gate else ("capacity_rps", 1.0),
    }[name]
    return float(m[key][0] * scale)


def run(a, cp, work):
    cpus = CONFIG["cpus"]
    cfg = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
           "cpus": cpus, "setups": CONFIG["setups"], "work": work}
    gates = a.workload == "gate-sweep"
    if gates:
        g = CONFIG["gates"]
        data = fixture(a.seed, g["sf"])
        cfg.update(data=data, warm=fixture(a.seed, g["warm_sf"]), gates=g["sample"],
                   dump=os.path.join(work, "dump"))
    else:
        import stac
        s = CONFIG["stac"]
        data = fixture(a.seed, s["events_sf"], ("events",))
        con = stac.connect(os.path.join(data, "events.parquet"))
        phase_s = a.seconds / 3
        reqs = stac.generate(con, a.seed, s, phase_s, closed_n=int(phase_s * 20) + 20,
                             traced=bool(a.trace))
        blob = json.dumps(reqs, sort_keys=True).encode()
        digest = hashlib.sha256(blob).hexdigest()[:16]
        req_path = os.path.join(work, "requests.json")
        open(req_path, "wb").write(blob)
        cfg.update(data=data, requests=req_path, closed_s=phase_s)
        log(f"{len(reqs['open']) + len(reqs['open_rw'])} open-loop and "
            f"{len(reqs['closed'])} closed-loop requests")

    res = run_jvm(cp, cfg, work)
    log("JVM done")
    invalid = False
    if gates:
        digest = hashlib.sha256(json.dumps(cfg["gates"]).encode())
        for t in sorted(os.listdir(data)):
            digest.update(open(os.path.join(data, t), "rb").read())
        digest = digest.hexdigest()[:16]
        reasons = check_gates(res, data, cfg["dump"])
        attempted = len(res["gates"])
        failed = len({name for name, _ in reasons})
        reasons = [f"{name}: {why}" for name, why in reasons]
        m = gate_metrics(res)
    else:
        # the traced run returns every request under "open"
        lists = {k: reqs[k] for k in ("open", "closed", "open_rw")}
        if a.trace:
            lists = {"open": reqs["open"] + reqs["open_rw"]}
        attempted, failed, reasons = 0, {}, []
        for k, ops in lists.items():
            n, bad, why = stac.check(ops, res.get(k, []))
            attempted += n
            failed[k] = bad
            reasons += why
        m = {}
        if not a.trace:
            m = stac_metrics(res, failed)
            late = max(res["lateness_ms"], default=0.0)
            m["lateness_max_ms"] = (late, "ms", len(res["lateness_ms"]))
            if late > CONFIG["stac"]["max_lateness_ms"]:
                invalid = True
                reasons.append(f"open-loop generator ran {late:.0f} ms late: run invalid")
        failed = sum(len(v) for v in failed.values())
    setup = res["setup_s"]
    m["setup_s"] = (median(setup), "s", len(setup))
    m["setup_cold_s"] = (setup[0], "s", 1)
    m["fail_share"] = (failed / attempted if attempted else 1.0, "1", attempted)
    correct = failed == 0 and attempted > 0 and not invalid
    return (m, correct, max(attempted, 1), failed, reasons, res), digest


if __name__ == "__main__":
    main()
