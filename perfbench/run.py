#!/usr/bin/env python3
"""Embargo benchmark: one command per workload, run from the repository root.

  python3 perfbench/run.py --workload embargo_day --seed 1 --seconds 20 --trace 0

Steps: compile the library (src/main) and the harness (perfbench/scala) with
the Scala compiler that ships in Spark's jars, once per source version, into
.bench_build/; generate the workload's inputs from the seed (perfbench/gen.py);
run the harness JVM at local[nproc]; check every output against the
generator's truth; print every metric with its unit, then one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, measured
with no listener registered; with --trace 1 they are its per_layer list,
from a second, traced phase plus direct calls into each layer. The exit code
is 0 only when every output is correct.
"""

import argparse
import glob
import hashlib
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = ".bench_build/perfbench"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, the install of the spark-submit on
    PATH, or the pyspark package."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-2.13*.jar")):
            return d
    fail("no Spark jars with a Scala 2.13 compiler (set SPARK_HOME)")


def build(jars):
    """Compile src/main and the harness; reuse the classes while no source changes."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs or not os.path.isfile(gen.FIXTURE):
        fail("run from the repository root: src/main/scala and %s are needed" % gen.FIXTURE)
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha1()
    for p in srcs:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed", 3)
    open(os.path.join(out, ".ok"), "w").close()
    return out


def start_jvm(classes, jars, args, root):
    cp = os.pathsep.join([classes, "src/main/resources", os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + opens + ["-cp", cp, "perfbench.Harness"] + args)
    with open(os.path.join(root, "jvm.log"), "w") as log:
        return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)


def wait_jvm(p, deadline):
    """Exit code, or None after killing a JVM that outlived the deadline."""
    try:
        return p.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None


def read_tgz(path):
    """Ordered (name, md5) of the regular entries of one archive; None if absent."""
    if not os.path.isfile(path):
        return None
    with tarfile.open(path) as t:
        return [(m.name, hashlib.md5(t.extractfile(m).read()).hexdigest())
                for m in t.getmembers() if m.isfile()]


def check_archive(job):
    """Compare both split halves of one source archive with the truth."""
    root, rel, truth = job
    day, base = rel.rsplit("/", 1)
    want = {r: [(n, m) for n, m, route in truth if route == r] for r in ("public", "private")}
    got = {"public": read_tgz(os.path.join(root, "public", day, base)),
           "private": read_tgz(os.path.join(root, "private", day,
                                            base.replace(".tgz", "-e.tgz")))}
    return rel, got == want


def check_promoted(root, date):
    """The promoted day's private copies equal the embargoed store's."""
    def files(store):
        d = os.path.join(root, store, gen_day_dir(date))
        out = {}
        for p in glob.glob(os.path.join(d, "*-e.tgz")):
            with open(p, "rb") as f:
                out[os.path.basename(p)] = hashlib.md5(f.read()).hexdigest()
        return out
    priv = files("private")
    return bool(priv) and files("public") == priv


def gen_day_dir(date):
    return "sidestream/%s/%s/%s" % (date[:4], date[4:6], date[6:8])


def load_truth(root):
    truth = {}
    with open(os.path.join(root, "truth.tsv")) as f:
        for line in f:
            rel, name, _size, md5, route = line.rstrip("\n").split("\t")
            truth.setdefault(rel, []).append((name, md5, route))
    return truth


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def e2e_metrics(workload, plan, res):
    ph = res["phase"]
    subs = [o for o in ph["ops"] if o["kind"] != "unembargo"]
    ok = [o for o in subs if o["status"] == 200]
    raw = plan["raw_bytes"]
    if workload == "embargo_day":
        mb = sum(raw[r] for o in ok for r in raw if r.startswith(gen_day_dir(o["key"]) + "/")) / 1e6
        split_s = sum(o["ms"] for o in subs) / 1000.0
    else:
        mb = sum(raw[o["key"]] for o in ok) / 1e6
        split_s = ph["wall_s"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "submit_ms_p50": statistics.median(o["ms"] for o in subs),
        # on embargo_day one op is the day's submit + unembargo pair
        "ops_per_s": len(ok) / ph["wall_s"],
        "split_mb_per_s": mb / split_s,
    }


def detail_metrics(res):
    """Workload-specific figures printed for people, not in the JSON line."""
    ph = res["phase"]
    out = {}
    for kind in sorted({o["kind"] for o in ph["ops"]}):
        ms = [o["ms"] for o in ph["ops"] if o["kind"] == kind]
        out[kind + "_ms_p50"] = (statistics.median(ms), "ms")
        if len(ms) >= 100:
            out[kind + "_ms_p90"] = (pct(ms, 0.9), "ms")
        out[kind + "_n"] = (len(ms), "count")
    out["rss_peak_mb"] = (res["rss_peak_mb"], "MB")
    return out


def layer_metrics(res):
    lay = dict(res["layers"])
    tph = res["traced_phase"]
    subs = [o["ms"] for o in tph["ops"] if o["kind"] != "unembargo"]
    untraced = [statistics.median(o["ms"] for o in res[ph]["ops"] if o["kind"] != "unembargo")
                for ph in ("phase", "after_phase")]
    p50 = statistics.median(subs)
    lay["ops.service_overhead_ms"] = p50 - 1000.0 * (lay["ops.split_s"] + lay["io.fs_publish_s"])
    lay["trace.overhead_pct"] = 100.0 * (p50 / statistics.mean(untraced) - 1.0)
    return lay


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    spec_path = "BENCHMARK.json"
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)

    jars = spark_jars()
    classes = build(jars)
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass

    root = os.path.abspath(os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(root, ignore_errors=True)
    try:
        t_gen = time.time()
        inputs = gen.Generator(".", a.workload, a.seed, root)
        inputs.warm(procs=min(cores, 4))
        t_jvm = time.time()
        out = os.path.join(root, "result.json")
        traces = os.path.abspath(os.path.join(BUILD, "traces"))
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, "%s-%d.jsonl" % (a.workload, a.seed))
        jvm = start_jvm(classes, jars, [a.workload, root, str(a.seconds), str(a.trace),
                                        str(cores), out, spans], root)
        try:
            # half the cores: the first set-up leaves them idle
            plan = inputs.pool(procs=max(cores // 2, 1))
        except BaseException:
            jvm.kill()
            jvm.wait()
            raise
        rc = wait_jvm(jvm, start + DEADLINE_S)
        if rc != 0 or not os.path.isfile(out):
            with open(os.path.join(root, "jvm.log")) as f:
                print(f.read()[-4000:], file=sys.stderr)
            fail("harness %s" % ("timed out" if rc is None else "exited with %s" % rc), 4)
        with open(out) as f:
            res = json.load(f)
        t_check = time.time()
        result = evaluate(a, spec, plan, root, res, cores)
        print("timing: build %.1f s, generate %.1f s, jvm %.1f s, check %.1f s" % (
            t_gen - start, t_jvm - t_gen, t_check - t_jvm, time.time() - t_check))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def evaluate(a, spec, plan, root, res, cores):
    truth = load_truth(root)
    phases = [res["phase"]] + ([res["traced_phase"], res["after_phase"]] if a.trace else [])
    ops = [o for ph in phases for o in ph["ops"]]
    bad = {o["kind"] + ":" + o["key"] for o in ops
           if o["status"] != 200 or o["body"] not in ("success", "OK")}

    # every source archive a submit touched, warm-up ones included
    warm_day = gen_day_dir(plan["warm"]["date"])
    submitted = {"%s/%s" % (warm_day, n): None for n in plan["warm"]["archives"]}
    for o in ops:
        if o["kind"] == "submit_file":
            submitted[o["key"]] = o["kind"] + ":" + o["key"]
        elif o["kind"] == "submit_day":
            for rel in truth:
                if rel.startswith(gen_day_dir(o["key"]) + "/"):
                    submitted[rel] = o["kind"] + ":" + o["key"]
    jobs = [(root, rel, truth[rel]) for rel in submitted]
    with multiprocessing.get_context("fork").Pool(min(cores, 4)) as pool:
        checked = pool.map(check_archive, jobs, chunksize=4)
    wrong = [rel for rel, ok in checked if not ok]
    bad |= {submitted[rel] for rel in wrong if submitted[rel]}
    promoted = {o["key"] for o in ops if o["kind"] == "unembargo"}
    bad |= {"unembargo:" + d for d in promoted if not check_promoted(root, d)}

    problems = list(res["setup_errors"]) + ["wrong split: " + r for r in wrong]
    if a.workload == "embargo_day" and not check_promoted(root, plan["warm"]["old_date"]):
        problems.append("warm-up promotion differs from the embargoed store")
    problems += ["failed: " + b for b in sorted(bad)]
    if a.trace:
        want = {}
        for rel in truth:
            if rel.startswith(warm_day + "/"):
                for _n, _m, route in truth[rel]:
                    want[route] = want.get(route, 0) + 1
        if res["stream_counts"] != want:
            problems.append("streaming drain counts %s, expected %s" % (res["stream_counts"], want))
    failed = len(bad)
    correct = not problems

    e2e = e2e_metrics(a.workload, plan, res)
    print("workload %s seed %d cores %d seconds %g trace %d" % (
        a.workload, a.seed, cores, a.seconds, a.trace))
    print("inputs: %s" % json.dumps(plan["sizes"]))
    for m in spec["end_to_end"]:
        print("  %-28s %14.4f %s" % (m["name"], e2e[m["name"]], m["unit"]))
    for k, (v, unit) in sorted(detail_metrics(res).items()):
        print("  %-28s %14.4f %s" % (k, v, unit))
    print("  %-28s %14.4f %s" % ("failed_frac", failed / max(len(ops), 1), "ratio"))
    metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    if a.trace:
        lay = layer_metrics(res)
        for m in spec["per_layer"]:
            print("  %-28s %14.4f %s" % (m["name"], lay[m["name"]], m["unit"]))
        metrics = {m["name"]: {"value": lay[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    for p in problems[:20]:
        print("  problem: " + p)
    return {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
