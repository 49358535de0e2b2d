#!/usr/bin/env python3
"""Benchmark for graft: one workload, one seed, one run.

    python3 perfbench/run.py --workload tables --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged.

A run generates the workload's inputs from the seed (perfbench/gen.py),
starts the JVM harness (graftbench.Main), checks every result against the
registry's DuckDB oracle SQL, and prints its metrics. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 the per-layer metrics.
"""
import argparse
import functools
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
BUILD_DIR = os.path.join(HERE, "target")
RUN_LIMIT_S = 175

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "perfbench.stamp")
    cp_file = os.path.join(BUILD_DIR, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the first spark-submit on the PATH that sits in a full install
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.realpath(d))
            if os.path.isfile(os.path.join(d, "spark-submit")) \
                    and os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building the library and harness with sbt ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- run

def run_jvm(cp, jargs, work, deadline):
    """Run graftbench.Main; echo its lines, return the RESULT payload."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only, so a short run is past JIT warm-up. C1's default 48 MB code
    # cache fills during a corpus run; the JIT then stops or flushes
    # compiled code, and later queries run interpreted in some runs only.
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] + [
        "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "graftbench.Main"] + jargs
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line.rstrip(), flush=True)
            if time.monotonic() > deadline:
                raise TimeoutError
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except (TimeoutError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the run exceeded its time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    return result


# ---------------------------------------------------------------- oracle

@functools.lru_cache(maxsize=None)
def repo_check():
    """The repository's own oracle compare, tools/check.py."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    return check


def oracle(data, tables):
    """A DuckDB connection with the generated tables under `data` as views."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    return con


def check_batch(con, sqls, results, queries):
    """Compare each result written under `results` with its oracle;
    returns ({query: reason}, [queries without oracle SQL])."""
    keyed_rows = repo_check().keyed_rows
    bad = {}
    unchecked = []
    for q in queries:
        if q not in sqls:
            unchecked.append(q)
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{results}/{q}/*.parquet')").arrow()
            exp = con.sql(sqls[q]).arrow()
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            bad[q] = f"oracle: {e}"
            continue
        gc, g = keyed_rows(got)
        ec, e = keyed_rows(exp)
        if gc != ec:
            bad[q] = f"columns {gc} vs oracle {ec}"
        elif len(g) != len(e):
            bad[q] = f"{len(g)} rows vs oracle {len(e)}"
        elif g != e:
            i = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
            bad[q] = f"row {i}: {g[i]} vs oracle {e[i]}"
    return bad, unchecked


# ---------------------------------------------------------------- metrics

def tail(samples):
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, n). Below 21 samples that is the median."""
    s = sorted(samples)
    n = len(s)
    if n >= 21:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return statistics.median(s), 50.0, n


def med(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def end_to_end(cfg, res):
    """The end-to-end metrics, plus the lines that name the per-query
    figures. Each query is taken at its fastest untraced pass, since CPU
    steal and other load on the shared host only ever add time, and
    `wall_s` is the pass those times make up."""
    plain = [p for p in res["passes"] if not p["traced"]]
    per_q = {q: min([p["times"][q] for p in plain if q in p["times"]], default=0.0)
             for q in cfg["queries"]}
    per_q = {q: t for q, t in per_q.items() if t > 0}
    samples = [t for p in plain for t in p["times"].values()]
    tv, tp, n = tail(samples)
    slowest = max(per_q, key=per_q.get)
    return {
        "setup_s": res["setup_s"],
        "wall_s": sum(per_q.values()),
        "query_geomean_s": geomean(list(per_q.values())),
        "query_max_s": per_q[slowest],
    }, [f"query_p50_s = {med(samples):.4f} s (n={n})",
        f"query_tail_s = {tv:.4f} s (p{tp:.1f}, n={n})",
        f"slowest query = {slowest}",
        f"passes = {len(plain)}: " + " ".join(f"{p['wall_s']:.3f}" for p in plain)]


def fixed_share(t1, t8):
    """Share of a query's time at x4 that does not grow with the data,
    from a straight line through its x1 and x8 times."""
    per_replica = max(0.0, (t8 - t1) / 7)
    fixed = max(0.0, t1 - per_replica)
    return fixed / (fixed + 4 * per_replica) if fixed + per_replica > 0 else 0.0


def per_layer(cfg, res, names, defects):
    """Every per-layer metric of BENCHMARK.json; 0 where the workload does
    not exercise the layer. A query whose scaling re-time failed has no
    `scale_exp`."""
    m = {k: 0.0 for k in names}
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    for k in {k for p in traced for k in p["layers"]}:
        m[k] = med([p["layers"].get(k, 0.0) for p in traced])
    wall_t = med([p["wall_s"] for p in traced])
    m["trace.overhead_ratio"] = wall_t / med([p["wall_s"] for p in plain])
    if m["scheduler.stages"]:
        m["scheduler.tasks_per_stage"] = m["scheduler.tasks"] / m["scheduler.stages"]
    m["executor.core_util"] = m["executor.task_run_s"] / (wall_t * res["cores"])
    for q in cfg["queries"]:
        m[f"q.{q}_s"] = med([p["times"][q] for p in traced if q in p["times"]])
    for mod, qs in CONFIG["modules"].items():
        m[f"{mod}.wall_s"] = sum(m[f"q.{q}_s"] for q in qs if q in cfg["queries"])
    m["oracle.defects"] = len(defects)
    for q in cfg["queries"] + cfg["scale_extra"]:
        m.pop(f"q.{q}.scale_exp", None)
    scaling = res["scaling"]
    for q, (t1, t8) in scaling.items():
        m[f"q.{q}.scale_exp"] = math.log(t8 / t1) / math.log(8)
    listed = [q for q in cfg["queries"] if q in scaling]
    if listed:
        m["scale.fixed_share"] = fixed_share(sum(scaling[q][0] for q in listed),
                                             sum(scaling[q][1] for q in listed))
    # micro-batches of the streaming entries, pooled over the traced passes
    batches = {k: [x for p in traced for x in p["stream"][k]]
               for k in traced[0]["stream"]}
    if batches["batch_ms"]:
        m["stream.batches"] = med([len(p["stream"]["batch_ms"]) for p in traced])
        m["stream.batch_ms_p50"] = med(batches["batch_ms"])
        for k in ["add_batch_ms", "query_planning_ms", "wal_commit_ms",
                  "commit_offsets_ms", "latest_offset_ms", "state_commit_ms"]:
            m[f"stream.{k}"] = med(batches[k])
        m["stream.state_rows"] = max(batches["state_rows"])
        m["stream.state_bytes"] = max(batches["state_bytes"])
        m["stream.late_drops"] = sum(batches["late_drops"])
    return {k: m[k] for k in names if k in m}


def moves(name):
    """The end-to-end metric and workload a per-layer metric should move."""
    if name.endswith(".scale_exp"):
        return "none: log(t8/t1)/log(8) from the x1 and x8 re-times"
    prefix = max((p for p in CONFIG["layer_moves"] if name.startswith(p)), key=len)
    return CONFIG["layer_moves"][prefix]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()
    deadline = started + RUN_LIMIT_S
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("perfbench: graft sources not found; run from a checkout root")
    cfg = CONFIG["workloads"][a.workload]
    cp = build()
    log(f"perfbench: build checked at {time.monotonic() - started:.1f} s")
    seed = a.seed % (1 << 62)

    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = gen.STAR if cfg["tables"] == "star" else gen.CORPUS
        data = os.path.join(work, "data")
        print(f"inputs: workload={a.workload} seed={a.seed} sf={cfg['sf']} x{cfg['mult']}")
        for t, (n, b, f) in gen.write(data, seed, cfg["sf"], cfg["mult"], tables).items():
            print(f"input {t}: {n} rows, {b} bytes, {f} files")
        jargs = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--data", data, "--out", work, "--queries", ",".join(cfg["queries"])]
        if a.trace:
            jargs += ["--probes", ",".join(cfg["defect_probes"])]
            for mult in (1, 8):
                d = os.path.join(work, f"x{mult}")
                gen.write(d, seed, cfg["sf"], mult, tables)
                jargs += [f"--scale{mult}", d]
            jargs += ["--scale-extra", ",".join(cfg["scale_extra"])]
        log(f"perfbench: inputs ready at {time.monotonic() - started:.1f} s")
        res = run_jvm(cp, jargs, work, deadline)
        log(f"perfbench: harness done at {time.monotonic() - started:.1f} s")

        sqls = json.load(open(os.path.join(work, "oracle_sql.json")))
        con = oracle(data, tables)
        results = os.path.join(work, "verify")
        # a query that fails anywhere counts as failed on every run of it
        ran = [q for q in cfg["queries"] if q not in res["failures"]]
        bad, unchecked = check_batch(con, sqls, results, ran)
        if a.trace:
            ran = [q for q in cfg["scale_extra"] if q not in res["failures"]]
            bad_x1, unchecked_x1 = check_batch(
                oracle(os.path.join(work, "x1"), tables), sqls,
                os.path.join(work, "verify-x1"), ran)
            bad.update(bad_x1)
            unchecked += unchecked_x1
            probes = [q for q in cfg["defect_probes"] if q not in res["probe_errors"]]
            defects, _ = check_batch(con, sqls, results, probes)
            defects.update(res["probe_errors"])
        bad.update(res["failures"])
        attempted = sum(res["runs"].values())
        failed = sum(res["runs"][q] for q in bad)
        for name, why in sorted(bad.items()):
            print(f"FAIL {name}: {why[:300]}")
        for name in unchecked:
            print(f"unchecked {name}: no oracle SQL in the registry")
        print(f"failed_ratio = {failed / attempted:.4f} ({failed}/{attempted})"
              + (f" failing: {' '.join(sorted(bad))}" if bad else ""))
        if cfg["defect_probes"] and not a.trace:
            print(f"known defects outside the timed list, checked with --trace 1: "
                  f"{' '.join(cfg['defect_probes'])}")

        figures, extra = end_to_end(cfg, res)
        for line in extra:
            print(line)
        if a.trace:
            for name in cfg["defect_probes"]:
                print(f"known defect {name}: " + (f"still fails: {defects[name][:300]}"
                                                  if name in defects else "now matches"))
            for q, (t1, t8) in sorted(res["scaling"].items()):
                print(f"scaling {q}: x1 {t1:.3f} s, x8 {t8:.3f} s, "
                      f"fixed share at x4 {fixed_share(t1, t8):.2f}")
            names = [x["name"] for x in SPEC["per_layer"]]
            metrics = per_layer(cfg, res, names, defects)
            units = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
            for k in names:
                shown = f"{metrics[k]:.6g}" if k in metrics else "missing (failed)"
                print(f"layer {k} = {shown} {units[k]}  [moves: {moves(k)}]"
                      + ("  SUPERLINEAR" if k.endswith(".scale_exp")
                         and metrics.get(k, 0) > 1.15 else ""))
        else:
            metrics = figures
            units = {x["name"]: x["unit"] for x in SPEC["end_to_end"]}
            for k, v in metrics.items():
                print(f"metric {k} = {v:.6g} {units[k]}")
        out = {"correct": not bad, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
