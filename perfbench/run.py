#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
with sbt; later runs reuse the build while the sources are unchanged. Each
run generates its inputs from the seed into a per-run directory under
``perfbench/.runs``, starts the JVMs there, checks every output, deletes the
directory, and prints one JSON line: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). ``--save-trace FILE`` also writes the traced run's spans, self time
per layer and tracing overhead (traced minus untraced) to FILE.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None
SETUP_SAMPLES = 2
# relational: 8 of the Relational pack's 42 queries, one per shape (join
# aggregate, multi-way join, anti join, window, set op, rollup, scalar
# subquery, as-of join); perfbench/README.md says why not all 42
RELATIONAL = ("q1_pricing_summary", "q3_revenue_by_segment", "q5_nation_volume",
              "q6_anti_join", "q8_window_topn_per_group", "q12_setops",
              "q13_rollup", "q16_scalar_subquery")
ETL_ORDERS = 25000   # a sixth of sf0.1 orders, with their line items
ETL_DOCS = 300
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]
WORKLOADS = ("relational", "etl_job")


def median(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Per span name family, the summed self time: a span's duration minus
    the part of its interval its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"]))
                    for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is not None and a <= cur_e:
                cur_e = max(cur_e, b)
            else:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
        if cur_e is not None:
            covered += cur_e - cur_s
        layer = "query" if s["name"].startswith("query.") else s["name"]
        out[layer] = out.get(layer, 0.0) + (s["end_s"] - s["start_s"]) - covered
    return out


# ---- build ---------------------------------------------------------------

def _sources_digest():
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench/harness"):
        base = os.path.join(ROOT, top)
        walk = os.walk(base) if os.path.isdir(base) else [(ROOT, [], [top])]
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             or d == os.path.join(ROOT, "perfbench/harness") and x == "project")
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _sbt(cwd, env, log):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    with open(log, "a") as f:
        f.write(p.stdout)
    if p.returncode != 0:
        sys.exit(f"sbt build failed in {cwd}; see {log}")
    return [ln for ln in p.stdout.splitlines() if os.pathsep in ln or ln.endswith(".jar")][-1].strip()


def build():
    """Compile graft and the harness once per source state; return the
    harness's runtime classpath."""
    out = os.path.join(HERE, ".build")
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "harness.classpath")
    digest_file = os.path.join(out, "digest")
    digest = _sources_digest()
    if os.path.exists(cp_file) and open(digest_file).read() == digest:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    graft_cp = _sbt(ROOT, env, log)
    with open(os.path.join(out, "graft.classpath"), "w") as f:
        f.write(graft_cp)
    env["PERFBENCH_GRAFT_CP"] = os.path.join(out, "graft.classpath")
    cp = _sbt(os.path.join(HERE, "harness"), env, log)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(digest_file, "w") as f:
        f.write(digest)
    return cp


# ---- one run -------------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def heap():
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // (4 * 1048576)))}g"


def jvm(cp, run_dir, name, args):
    """Run one harness JVM in ``run_dir`` with its own java.io.tmpdir;
    return its result dict and its tmpdir."""
    tmp = os.path.join(run_dir, f"tmp-{name}")
    os.makedirs(tmp)
    out = os.path.join(run_dir, f"{name}.json")
    # -XX:-UsePerfData: no hsperfdata file outside the run directory;
    # -Xms = -Xmx: a heap that grows during the run slows the first timed pass
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    for m in JDK17_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--cores", str(cores()), "--out", out]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(run_dir, f"{name}.log"), "w") as log:
        p = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, f"{name}.log")).read()[-3000:]
        sys.exit(f"harness JVM '{name}' failed ({p.returncode}):\n{tail}")
    with open(out) as f:
        return json.load(f), tmp


def prepare(workload, seed, run_dir):
    """Generate the workload's inputs (the warm-up pass uses them too);
    return (data dir, expected-file)."""
    data = os.path.join(run_dir, "data")
    expected = os.path.join(run_dir, "expected.json")
    if workload in ("relational", "fingerprint"):
        gen.write_tables(data)
        if workload == "relational":
            shutil.copy(os.path.join(HERE, "fingerprints.json"), expected)
    elif workload == "etl_job":
        exp = gen.etl_drops(data, seed, orders=ETL_ORDERS)
        exp["docs"] = gen.ingest_drops(os.path.join(data, "docs"), seed, drops=1,
                                       per_drop=ETL_DOCS)
        with open(expected, "w") as f:
            json.dump(exp, f)
    return data, expected


def run_once(workload, seed, seconds, trace, cp):
    run_dir = os.path.join(HERE, ".runs", f"{workload}-{seed}-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    try:
        setups = [jvm(cp, run_dir, f"setup{i}", {"workload": "setup", "seed": seed,
                                                 "seconds": 0, "trace": 0,
                                                 "data": "", "work": run_dir})[0]["setup_s"]
                  for i in range(SETUP_SAMPLES - 1)]
        t1 = time.time()
        data, expected = prepare(workload, seed, run_dir)
        t2 = time.time()
        res, tmp = jvm(cp, run_dir, "main", {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "data": data, "work": os.path.join(run_dir, "work"),
            "expected": expected,
            "queries": ",".join(RELATIONAL)})
        res["setup_samples"] = setups + [res["setup_s"]]
        print(f"run.py: {workload} setups {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, "
              f"main JVM {time.time() - t2:.1f} s (setup {res['setup_s']:.1f} s, warm-up "
              f"{res.get('warmup_s', 0):.1f} s, timed {res['series'].get('pass_s')}, "
              f"ops {res['series'].get('op_s')})",
              file=sys.stderr)
        res["tmp_leaked"] = len(os.listdir(tmp))
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(res):
    s = res["series"]
    return {"setup_s": median(res["setup_samples"]), "pass_s": median(s.get("pass_s", [])),
            "rows_per_s": median(s.get("rows_per_s", [])),
            "batch_p50_s": median(s.get("op_s", []))}


def per_layer(res):
    vals = {k: median(v) for k, v in res["series"].items()}
    vals["tmp_leaked"] = res["tmp_leaked"]
    vals["failed_frac"] = res["failed"] / max(1, res["attempted"])
    return vals


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save-trace")
    a = ap.parse_args()
    if SPEC is None or not os.path.exists(os.path.join(ROOT, "build.sbt")) \
            or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("run.py: graft sources not found next to BENCHMARK.json; "
                 "run from the root of a graft checkout")
    if a.workload not in WORKLOADS + ("fingerprint", "selftest"):
        sys.exit(f"run.py: unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    cp = build()
    if a.workload == "fingerprint":
        return record_fingerprints(cp)
    if a.workload == "selftest":
        res = run_once("selftest", a.seed, 0, 0, cp)
        print(json.dumps({"attempted": res["attempted"], "failed": res["failed"],
                          "failures": res["failures"]}))
        return sys.exit(1 if res["failed"] else 0)
    untraced = run_once(a.workload, a.seed, a.seconds, 0, cp) \
        if a.save_trace or not a.trace else None
    traced = run_once(a.workload, a.seed, a.seconds, 1, cp) if a.trace else None
    res = traced or untraced
    kind = "per_layer" if a.trace else "end_to_end"
    values = per_layer(res) if a.trace else end_to_end(res)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in SPEC[kind]}
    if a.save_trace:
        save_trace(a, untraced, traced)
    for f in res["failures"]:
        print("FAILED", f, file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def save_trace(a, untraced, traced):
    e2e_u, e2e_t = end_to_end(untraced), end_to_end(traced)
    timed = [s for s in traced["spans"] if s["pass"] > 0]  # pass 0 is warm-up
    passes = len({s["pass"] for s in timed})
    doc = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "cores": cores(),
        "untraced": e2e_u, "traced": e2e_t,
        "overhead": {k: e2e_t[k] - e2e_u[k] for k in e2e_u},
        "per_layer": per_layer(traced),
        "self_time_s_per_pass": {k: v / max(1, passes)
                                 for k, v in sorted(self_times(timed).items())},
        "timed_passes": passes,
        "failures": traced["failures"],
        "spans": traced["spans"],
    }
    with open(a.save_trace, "w") as f:
        json.dump(doc, f, indent=1)


def record_fingerprints(cp):
    """Record per-query fingerprints: two JVMs, two orders each. A query
    whose hash differs anywhere is checked by row count only; one whose row
    count differs is listed as unstable."""
    runs = [run_once("fingerprint", seed, 0, 0, cp)["fingerprints"] for seed in (1, 2)]
    out = {}
    for name in sorted(runs[0]):
        a, b = runs[0][name], runs[1][name]
        check = "hash" if a["check"] == b["check"] == "hash" and a["hash"] == b["hash"] \
            else "rows" if a["rows"] == b["rows"] else "unstable"
        out[name] = {"rows": a["rows"], "hash": a["hash"], "check": check}
    with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({n: v["check"] for n, v in out.items() if v["check"] != "hash"}))


if __name__ == "__main__":
    main()
