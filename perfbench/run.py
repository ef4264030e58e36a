#!/usr/bin/env python3
"""graft benchmark: one workload, timed end to end and split by module.

Usage (from the repository root):
    python3 perfbench/run.py --workload queries|ingest \\
        --seed N --seconds S --trace 0|1

Builds the library and the benchmark's JVM half from source with scalac
(into .bench_build/), prepares the workload's seeded inputs, runs the
workload on Spark local[4], checks every operation's output, and prints a
report ending in one JSON line: `correct`, `attempted`, `failed` and the
end-to-end (`--trace 0`) or per-layer (`--trace 1`) metrics named in
BENCHMARK.json. The shipped fixtures (TESTDATA.md) are read from
$GRAFT_TESTDATA, by default ~/testdata.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def sources():
    out = []
    for base in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 install with jars/")
    return os.path.join(home, "jars", "*")


def build():
    """Compile src/main/scala and perfbench/src with scalac into
    .bench_build/classes, unless the sources are unchanged since the last
    build. Returns the source digest."""
    srcs = sources()
    if not any(p.endswith(".scala") and "/src/main/scala/" in p for p in srcs):
        fail("src/main/scala not found: run from the repository root")
    tag = digest(srcs)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == tag:
        return tag
    log("building with scalac ...")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + \
        [p for p in srcs if p.endswith(".scala")]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(tag)
    return tag


# --------------------------------------------------------------- inputs

def fixture_dir(sf):
    d = os.path.join(os.environ.get("GRAFT_TESTDATA",
                                    os.path.expanduser("~/testdata")), sf)
    if not all(os.path.exists(os.path.join(d, f"{t}.parquet"))
               for t in TABLES):
        fail(f"fixture {sf} not found at {d} (set GRAFT_TESTDATA)")
    return d


def prepare_input(group, seed, work):
    """The directory of tables a key group reads: the shipped fixture of
    the group's scale factor, with documents and embeddings replaced by
    the seeded generator's when the group asks for it."""
    fx = fixture_dir(group["sf"])
    if not group.get("generate_documents"):
        return fx, {}
    import gen_curate
    import pyarrow.parquet as pq
    d = os.path.join(work, f"input-{group['name']}")
    os.makedirs(d)
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            os.symlink(os.path.join(fx, f"{t}.parquet"),
                       os.path.join(d, f"{t}.parquet"))
    rows = {t: pq.ParquetFile(os.path.join(fx, f"{t}.parquet"))
            .metadata.num_rows for t in ("documents", "embeddings")}
    return d, gen_curate.generate(seed, d, rows["documents"],
                                  rows["embeddings"])


def input_digest(d):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ JVM

def run_jvm(cfg, work, t0_ms):
    path = os.path.join(work, "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    cp = os.pathsep.join([os.path.join(BUILD, "classes"),
                          os.path.join(ROOT, "src/main/resources"),
                          spark_jars()])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java()] + [f"--add-opens=java.base/{p}=ALL-UNNAMED"
                      for p in JDK_OPENS] + \
        ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
         "-cp", cp, "graft.perfbench.Main", path]
    left = RUN_LIMIT_S - (time.time() * 1000 - t0_ms) / 1000
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = p.wait(timeout=max(10, left))
    except subprocess.TimeoutExpired:
        fail(f"JVM exceeded the {RUN_LIMIT_S} s run limit")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0:
        fail(f"JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# --------------------------------------------------------------- checks

def oracle_expectations(input_dir, dump_dir):
    """Row count and column names of every oracle key's DuckDB result."""
    import duckdb
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t)}.parquet')")
    out = {}
    for k, sql in oracle.items():
        cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
                .description]
        n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        out[k] = (n, sorted(cols))
    return out


def full_check(input_dir, dump_dir, keys):
    """Value-for-value compare of the dumped keys with scripts/check.py;
    returns {key: reason} for each failure."""
    if not keys:
        return {}
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts/check.py"),
                        input_dir, dump_dir] + keys,
                       capture_output=True, text=True)
    bad = {}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL "):
            k, _, why = line[5:].partition(":")
            bad[k] = why.strip()
    if r.returncode != 0 and not bad:
        bad["scripts/check.py"] = (r.stderr or r.stdout)[-500:]
    return bad


def check_keys(res, cfg, work):
    """Mark each sample wrong whose output disagrees with its expectation:
    the oracle's row count and columns, or the pinned schema and row count
    of a key without an oracle; plus the full compare of the dumped keys.
    Each key group is checked against its own input. Returns the failure
    messages."""
    pins = load_json("pins.json")
    expect, full = {}, dict(res["dump_errors"])
    for g in cfg["groups"]:
        dump = os.path.join(work, "dump", g["name"])
        t0 = time.time()
        expect[g["name"]] = oracle_expectations(g["input"], dump)
        t1 = time.time()
        full.update(full_check(g["input"], dump,
                               res["check_keys"][g["name"]]))
        log(f"{g['name']}: oracle expectations {t1 - t0:.1f} s, full "
            f"compare {time.time() - t1:.1f} s")
    msgs = [f"{k}: full compare failed: {why}" for k, why in full.items()]
    windows = [w for w in (res["untraced"], res.get("baseline"),
                           res.get("traced")) if w]
    for w in windows:
        for s in w["samples"]:
            if not s["ok"]:
                continue
            k, g = s["key"], s["group"]
            why = None
            if k in expect[g]:
                n, cols = expect[g][k]
                got = sorted(c.split(":")[0] for c in s["schema"].split(","))
                if s["rows"] != n or got != cols:
                    why = f"rows {s['rows']} cols {got}, oracle {n} {cols}"
            else:
                pin = pins.get(g, {}).get(k)
                if pin is None:
                    why = (f"no pinned expectation; observed schema "
                           f"{s['schema']!r} rows {s['rows']}")
                elif s["schema"] != pin["schema"] or \
                        (pin["rows"] is not None and s["rows"] != pin["rows"]):
                    why = (f"schema/rows {s['schema']} {s['rows']} != "
                           f"pinned {pin['schema']} {pin['rows']}")
            if why is None and k in full:
                why = f"full compare: {full[k]}"
            if why:
                s["ok"] = False
                s["error"] = f"{k} [check] wrong output: {why}"
    return msgs


# -------------------------------------------------------------- metrics

def op_latency(s):
    return s["builder_s"] + s["plan_s"] + s["exec_s"]


def key_e2e(w):
    passes = [(p["end_ms"] - p["start_ms"]) / 1000 for p in w["passes"]]
    lat = stats.latencies(w["samples"], op_latency)
    return {
        "pass_s": (stats.median(passes), "s"),
        "op_p50_s": (stats.median(lat), "s"),
        "op_p90_s": (stats.percentile(lat, 0.9), "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in w["passes"]]), "s"),
    }, len(lat), len(passes)


def ingest_e2e(ws):
    """End-to-end metrics over the untraced windows of every JVM of the
    run: passes and samples pooled."""
    ss = [s for w in ws for s in w["samples"]]
    passes = [(p["end_ms"] - p["start_ms"]) / 1000
              for w in ws for p in w["passes"]]
    ms = lambda s: s["end_ms"] - s["start_ms"]  # noqa: E731
    of = lambda *kinds: [s for s in ss if s["kind"] in kinds]  # noqa: E731
    lat = stats.latencies(ss, lambda s: ms(s) / 1000)
    commits = stats.latencies(of("append"), ms)
    dml = stats.latencies(of("lib_delete", "lib_merge", "sql_delete",
                             "sql_merge", "sql_update"), ms)
    reads = stats.latencies(of("range_read", "timetravel_read"), ms)
    secs = sum(w["end_ms"] - w["start_ms"] for w in ws) / 1000
    return {
        "pass_s": (stats.median(passes), "s"),
        "op_p50_s": (stats.median(lat), "s"),
        "op_p90_s": (stats.percentile(lat, 0.9), "s"),
        "cpu_s": (stats.median([p["cpu_s"] for w in ws
                                for p in w["passes"]]), "s"),
        "commit_p50_ms": (stats.median(commits), "ms"),
        "commit_p90_ms": (stats.percentile(commits, 0.9), "ms"),
        "commits_per_s": (sum(w["versions"] for w in ws) / secs, "1/s"),
        "dml_p50_ms": (stats.median(dml), "ms"),
        "read_p50_ms": (stats.median(reads), "ms"),
        "read_p90_ms": (stats.percentile(reads, 0.9), "ms"),
    }, len(lat), len(passes)


LAYER_FIELDS = ["builder_s", "plan_s", "exec_s", "jobs", "eager_jobs",
                "tasks", "task_s", "shuffle_mb", "gc_s"]


def key_layers(w, modules, cores):
    """Per module, each field summed over its operations, per pass."""
    npass = len(w["passes"])
    out = {}
    for m in sorted(set(modules.values())):
        ss = [s for s in w["samples"] if modules[s["key"]] == m]
        for f in LAYER_FIELDS:
            out[f"{m}.{f}"] = sum(s[f] for s in ss) / npass
        ratios = [max(t) / stats.median(t) for s in ss
                  for t in s["stage_task_ms"] if stats.median(t) > 0]
        out[f"{m}.skew"] = stats.median(ratios) or 1.0
    wall = sum(p["end_ms"] - p["start_ms"] for p in w["passes"]) / 1000
    out["spark.util"] = sum(s["task_s"] for s in w["samples"]) / \
        (wall * cores)
    return out


def txtable_layers(w, cores):
    ss = w["samples"]
    appends = [s for s in ss if s["kind"] == "append" and s["ok"]]
    by_v = sorted((s["version"], s["end_ms"] - s["start_ms"]) for s in appends)
    tenth = max(1, len(by_v) // 10)
    first = stats.median([ms for _, ms in by_v[:tenth]])
    last = stats.median([ms for _, ms in by_v[-tenth:]])
    reads = [s for s in ss if s["kind"] == "range_read" and s["ok"]]
    listed = sum(s["listed"] for s in reads)
    kept = sum(s["kept"] for s in reads)
    ms = lambda s: s["end_ms"] - s["start_ms"]  # noqa: E731
    wall = (w["end_ms"] - w["start_ms"]) / 1000
    return {
        "txtable.commit_growth": last / first,
        "txtable.manifest_read_ms": stats.median(w["manifest_read_ms"]),
        "txtable.log_bytes_per_commit": w["log_bytes"] / w["versions"],
        "txtable.files_per_snapshot": stats.median(w["snapshot_files"]),
        "txtable.skip_ratio": (listed - kept) / listed if listed else 0.0,
        "txtable.jobs_per_commit": sum(s["jobs"] for s in appends) /
        len(appends),
        "txtable.task_s_per_commit": sum(s["task_s"] for s in appends) /
        len(appends),
        "txtable.rewritten_files_per_dml":
            stats.median(w["rewritten_files"]) or 0.0,
        "txtable.lib_dml_ms": stats.median(
            [ms(s) for s in ss if s["kind"].startswith("lib_") and s["ok"]]),
        "txtable.sql_dml_ms": stats.median(
            [ms(s) for s in ss if s["kind"].startswith("sql_") and s["ok"]]),
        "spark.util": sum(s["task_s"] for s in ss) / (wall * cores),
    }


# --------------------------------------------------------------- report

def provenance(args, results, src_tag, cfg, info):
    res = results[0]
    inputs = ",".join(f"{g['name']}:{input_digest(g['input'])}"
                      for g in cfg["groups"]) or "generated"
    try:
        sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, cwd=ROOT,
                             timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        sha = "none"
    extra = "".join(f" {k}={v}" for k, v in info.items())
    print(f"provenance: git={sha} src={src_tag} nproc={os.cpu_count()} "
          f"spark_cores={CORES} heap_mb={res['heap_mb']} "
          f"spark={res['spark_version']} workload={args.workload} "
          f"seed={args.seed} input={inputs} "
          "spin_probe_s=" + "/".join(f"{r['spin_probe_s']:.3f}"
                                     for r in results) + extra)


def fmt(v):
    return "n/a" if v is None else f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser()
    workloads = load_json("workloads.json")
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build_t0 = time.time() * 1000
    src_tag = build()
    # setup_s starts here, so a compile never lands in it
    setup_t0 = time.time() * 1000
    log(f"build check {(setup_t0 - build_t0) / 1000:.1f} s")

    work = os.path.join(BUILD, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = workloads["workloads"][args.workload]
        groups, info = [], {}
        for g in spec.get("groups", []):
            input_dir, gen = prepare_input(g, args.seed, work)
            info.update(gen)
            groups.append({"name": g["name"], "input": input_dir,
                           "keys": g["keys"], "permute": g["permute"],
                           "full_checks": g["full_checks_per_run"]})
        cfg = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": bool(args.trace),
               "work": work, "groups": groups, "cores": CORES}
        # an untraced run of a workload with `jvm_forks` runs that many
        # JVMs one after another on the same inputs and pools their passes
        forks = 1 if args.trace else spec.get("jvm_forks", 1)
        results = []
        for i in range(forks):
            jwork = os.path.join(work, f"jvm{i}")
            os.makedirs(jwork)
            launch_ms = setup_t0 if i == 0 else time.time() * 1000
            res = run_jvm(dict(cfg, work=jwork), jwork, setup_t0)
            res["setup_s"] = (res["first_op_ms"] - launch_ms) / 1000
            res["launch_ms"] = launch_ms
            results.append(res)
            log(f"JVM {i} ended {(time.time() * 1000 - setup_t0) / 1000:.1f}"
                " s after set-up began")
        report(args, bench, cfg, results, src_tag, info,
               os.path.join(work, "jvm0"))
    finally:
        spans = os.path.join(work, "jvm0", "spans.jsonl")
        if os.path.exists(spans):
            dst = os.path.join(BUILD, "trace",
                               f"{args.workload}-seed{args.seed}.spans.jsonl")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(spans, dst)
            log(f"spans written to {os.path.relpath(dst, ROOT)}")
        shutil.rmtree(work, ignore_errors=True)


def report(args, bench, cfg, results, src_tag, info, work):
    wl = args.workload
    res = results[0]
    if cfg["groups"]:
        t0 = time.time()
        msgs = check_keys(res, cfg, work)
        log(f"output checks {time.time() - t0:.1f} s")
        e2e, nlat, npass = key_e2e(res["untraced"])
    else:
        ws = [r["untraced"] for r in results]
        msgs = [m for r in results for k in ("untraced", "baseline", "traced")
                if r.get(k) for m in r[k]["check_failures"]]
        e2e, nlat, npass = ingest_e2e(ws)
        for i, w in enumerate(ws):
            print(f"ingest JVM {i}: {w['versions']} commits, largest "
                  f"manifest {w['pages_max']} pages")
        ss = [s for w in ws for s in w["samples"]]
        for kind in sorted({s["kind"] for s in ss}):
            ms = [s["end_ms"] - s["start_ms"] for s in ss
                  if s["kind"] == kind and s["ok"]]
            print(f"  {kind:16s} n={len(ms):4d} p50 "
                  f"{fmt(stats.median(ms))} ms")
    e2e["setup_s"] = (stats.median([r["setup_s"] for r in results]), "s")
    provenance(args, results, src_tag, cfg, info)
    for i, r in enumerate(results):
        steps = [("python+inputs" if i == 0 else "launch",
                  (r["jvm_start_ms"] - r["launch_ms"]) / 1000),
                 ("spark session", r["session_s"])] + \
            [(st["step"], st["s"]) for st in r.get("setup_steps", [])]
        print(f"setup JVM {i}: {r['setup_s']:.2f}s = " +
              ", ".join(f"{k} {v:.2f}s" for k, v in steps))
        for warn in r.get("setup_warnings", []):
            print(f"setup warning: {warn}")

    samples = [s for r in results
               for k in ("untraced", "baseline", "traced") if r.get(k)
               for s in r[k]["samples"]]
    failed = [s for s in samples if not s["ok"]]
    e2e["failed_frac"] = (stats.failed_frac(samples), "share")
    print(f"{wl}: {len(samples)} operations attempted, {len(failed)} failed;"
          f" {nlat} latency samples, {npass:.3g} passes")
    print("  passes: " + ", ".join(
        f"{(p['end_ms'] - p['start_ms']) / 1000:.2f} s / {p['cpu_s']:.1f} "
        "CPU-s" for r in results for p in r["untraced"]["passes"]))
    if cfg["groups"]:
        for s in res["untraced"]["samples"]:
            print(f"  op {s['key']:28s} pass {s['pass']} builder "
                  f"{s['builder_s']:.3f} plan {s['plan_s']:.3f} exec "
                  f"{s['exec_s']:.3f} rows {s['rows']}")
    for s in failed[:20]:
        print(f"  FAILED {s['error']}")
    for m in msgs:
        print(f"  CHECK {m}")
    for name, (v, unit) in e2e.items():
        note = ""
        if name.endswith("p90_s") or name.endswith("p90_ms"):
            note = "" if v is not None else \
                "  (fewer than 10 samples beyond p90)"
        print(f"  {name:16s} {fmt(v):>10s} {unit}{note}")

    if args.trace:
        t, b = res["traced"], res["baseline"]
        if cfg["groups"]:
            layers = key_layers(t, res["modules"], CORES)
            pass_of = lambda w: key_e2e(w)[0]["pass_s"][0]  # noqa: E731
        else:
            layers = txtable_layers(t, CORES)
            pass_of = lambda w: ingest_e2e([w])[0]["pass_s"][0]  # noqa: E731
        tp, bp = pass_of(t), pass_of(b)
        print(f"tracing overhead: traced pass_s {tp:.4g} s vs untraced "
              f"{bp:.4g} s just before it ({100 * (tp / bp - 1):+.1f}%)")
        if cfg["groups"]:
            cpu = stats.median([p["cpu_s"] for p in t["passes"]])
            mods = sorted(set(res["modules"].values()))
            print(f"task_s share of the traced pass's cpu_s {cpu:.4g} s: " +
                  ", ".join(f"{m} {layers[m + '.task_s'] / cpu:.1%}"
                            for m in mods))
        print("per-layer (traced run, per pass):")
        for k in sorted(layers):
            print(f"  {k:32s} {fmt(layers[k]):>10s}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]),
                               "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    correct = not failed and not msgs
    print(json.dumps({"correct": correct, "attempted": len(samples),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so the JVM child is killed and
    # reaped by run_jvm's `finally`
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    main()
