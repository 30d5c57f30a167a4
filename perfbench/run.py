#!/usr/bin/env python3
"""Benchmark front end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (`sbt compile` in perfbench/, against the Spark jars
under $SPARK_HOME/jars); later runs reuse the build while no source
changed. `tiers` reads the fixed corpus in perfbench/corpus and permutes
its row order by the seed; `reef-ml` generates its input from the seed
(gen.py). The run starts one JVM
(`perfbench.Main`, local[4]), checks the outputs, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the span dump lands in perfbench/work/run/.../spans.json).
The exit code is non-zero when the build, a membership or leak check, or
an output check fails.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

sys.path.insert(0, HERE)
import gen  # noqa: E402

CORPUS = os.path.join(HERE, "corpus")
HEAP = "3g"

END_TO_END = {"setup_s": "s", "cold_s": "s", "pass_s": "s",
              "op_p50_s": "s", "op_p90_s": "s"}

# Spark on JDK 17 outside spark-submit needs these (as build.sbt has them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def sources():
    """Every input of the build, as (path, size, mtime) triples."""
    out = []
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, files in os.walk(base):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns))
    for f in ["build.sbt", os.path.join("project", "build.properties")]:
        with open(os.path.join(HERE, f), "rb") as fh:
            out.append((f, hashlib.sha256(fh.read()).hexdigest(), 0))
    return sorted(out)


def build():
    stamp = hashlib.sha256(repr(sources()).encode()).hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) \
            and open(STAMP).read() == stamp:
        return
    log("building engine + harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")


def reef_input(spec, seed):
    """Generate (or reuse) the seeded reef CSV. The directory name holds
    a hash of the generator, so an edited gen.py never reuses old data."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"reef-{spec['surveys']}-{seed}-{key}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.reef(d, seed, spec["surveys"])
        open(os.path.join(d, "done"), "w").close()
    return d


def order(spec, seed):
    """Row order of a pass: the build rows first, in their frozen order,
    then the serving rows in the seed's permutation."""
    rest = [r for r in spec["rows"] if r not in spec["builds"]]
    random.Random(seed).shuffle(rest)
    return spec["builds"] + rest


def pairs(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["ia", "ib"])
    return set(zip(t["ia"].to_pylist(), t["ib"].to_pylist()))


def check_d30(results, spec):
    """d30 (MinHash LSH, no DuckDB oracle) against d28's exact near-dup
    pairs, which the oracle has checked: at least `min_pairs` pairs,
    ordered ia < ib, and recall of d28's pairs at least `min_recall`
    (DedupSpec's floor)."""
    lsh = pairs(os.path.join(results, "d30_minhash_lsh"))
    exact = pairs(os.path.join(results, "d28_neardup_jaccard"))
    recall = len(exact & lsh) / max(len(exact), 1)
    ok = len(lsh) >= spec["min_pairs"] and all(a < b for a, b in lsh) \
        and recall >= spec["min_recall"]
    log(f"rows-only d30_minhash_lsh: {len(lsh)} pairs, recall {recall:.3f} "
        f"of {len(exact)} d28 pairs {'ok' if ok else 'WRONG'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    needed = [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join(ROOT, "tools", "check_oracle.py")]
    for p in needed:
        if not os.path.exists(p):
            fail(f"{os.path.relpath(p, ROOT)} is missing; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    with open(os.path.join(HERE, "workloads.json")) as f:
        frozen = json.load(f)
    spec = frozen["workloads"].get(a.workload)
    if spec is None:
        fail(f"unknown workload {a.workload}")
    tiers = a.workload == "tiers"
    if tiers and not os.path.exists(os.path.join(CORPUS, "lineitem.parquet")):
        fail("perfbench/corpus is missing")

    build()
    t_gen = time.time()  # the 180 s run limit counts from here
    data = CORPUS if tiers else reef_input(spec, a.seed)
    t_jvm = time.time()
    run_dir = os.path.join(WORK, "run", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)

    jargs = ["--workload", a.workload, "--out", run_dir,
             "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if tiers:
        jargs += ["--corpus", data, "--rows", ",".join(spec["rows"]),
                  "--order", ",".join(order(spec, a.seed)),
                  "--builds", ",".join(spec["builds"])]
    else:
        jargs += ["--csv", os.path.join(data, "reef.csv"),
                  "--vocab", os.path.join(data, "vocab.txt"),
                  "--surveys", str(spec["surveys"])]
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    # AlwaysPreTouch faults the whole heap in before main: on a VM that
    # hands freed memory back to its host, first touches cost a host
    # page fault whose price depends on the host's load, and without it
    # they land in the set-up and cold pass
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + jargs
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                               stderr=err, stdin=subprocess.DEVNULL, text=True,
                               timeout=170 - (time.time() - t_gen))
        except subprocess.TimeoutExpired:
            fail("the JVM did not finish in time")
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines() if "[perfbench]" in l or "Exception" in l]
        for l in tail[-20:]:
            log(l)
        fail(f"the JVM exited with {r.returncode}")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    t_check = time.time()

    correct = not res["verify_failed"]
    if tiers:
        results = os.path.join(run_dir, "results")
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                              data, results], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, stdin=subprocess.DEVNULL)
        bad = [l for l in chk.stdout.splitlines() if l.startswith("✗")]
        for l in bad:
            log(l)
        correct = correct and chk.returncode == 0
        # d30 is the one rows-only row in tiers; any other would go unchecked
        unchecked = [n for n in res["rows_only"] if n != "d30_minhash_lsh"]
        if unchecked:
            log(f"rows-only rows without a check: {unchecked}")
        correct = correct and not unchecked and \
            check_d30(results, spec["d30_check"])
    else:
        log(f"rmse {json.dumps(res['rmse'])}")

    units = END_TO_END if a.trace == 0 else {
        m["name"]: m["unit"] for m in frozen["per_layer"]}
    metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()}
    print(f"workload={a.workload} seed={a.seed} passes={len(res['pass_times'])} "
          f"op_samples={res['op_samples']} ops_beyond_p90={res['op_beyond_p90']} "
          f"setups={[round(x, 3) for x in res['setup_times']]} "
          f"passes_s={[round(x, 3) for x in res['pass_times']]} "
          f"failed_ops={res['failed_ops']} gen={t_jvm - t_gen:.1f}s "
          f"jvm={t_check - t_jvm:.1f}s check={time.time() - t_check:.1f}s "
          f"wall={time.time() - started:.1f}s")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
