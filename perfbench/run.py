#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload finance_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the
harness with sbt (offline) and generates the inputs under
.perfbench_work/; later runs reuse both. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Everything else
goes to stderr and to .perfbench_work/. See perfbench/README.md.
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
WORK = os.path.join(ROOT, ".perfbench_work")
sys.dont_write_bytecode = True  # keep the checkout clean
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("finance_mix", "corpus_pipeline", "stream_twins")
RUN_LIMIT = 170  # seconds a run may take after the build and input generation
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s", "items_per_s": "1/s",
}
# per-layer metrics with their units; "count" metrics are exact
PER_LAYER = {
    "session.build_s": "s", "session.register_s": "s", "session.warmup_s": "s",
    "tables.scan_s": "s", "tables.bytes_read": "bytes", "tables.rows_read": "count",
    "sparkentry.build_s": "s", "sparkentry.build_jobs": "count",
    "driver.analysis_s": "s", "driver.optimization_s": "s", "driver.planning_s": "s",
    "driver.codegen_s": "s", "driver.codegen_compiles": "count", "driver.gap_s": "s",
    "jobs.count": "count", "jobs.stages": "count", "jobs.tasks": "count", "jobs.run_s": "s",
    "tasks.cpu_s": "s", "tasks.gc_s": "s", "tasks.failed": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    "operators.checkpoint_jobs": "count", "operators.checkpoint_s": "s",
    "operators.checkpoint_sites": "count", "operators.pinned_bytes": "bytes",
    "operators.pinned_mb": "MB",
    **{f"plans.kernel.{k}.rows_per_s": "1/s" for k in (
        "clean_text", "minhash_sig", "simhash60", "simhash120", "feature_hash",
        "cdc_bounds", "lsh_bucket", "ivf_assign", "bpe_stats", "byte_stats")},
    "plans.wscg_fraction": "fraction", "plans.exchanges": "count",
    "write.s": "s", "write.bytes": "bytes", "write.rows": "count",
    "streaming.add_batch_s": "s", "streaming.commit_s": "s", "streaming.wal_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_frac": "fraction",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the harness with sbt unless the sources are
    unchanged since the last build; returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    have = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    if not (have and os.path.exists(os.path.join(launch, "classpath.txt"))):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        blog = os.path.join(WORK, "build.log")
        log("building graft and the harness (sbt, offline)")
        t0 = time.time()
        with open(blog, "w") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, timeout=840)
        if rc != 0:
            with open(blog) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            fail(f"build failed (rc={rc}), log in {blog}")
        log(f"built in {time.time() - t0:.0f}s")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    cp = open(os.path.join(launch, "classpath.txt")).read().split()
    jopts = [o for o in open(os.path.join(launch, "javaopts.txt")).read().splitlines() if o]
    return cp, jopts


# ---- harness JVM ---------------------------------------------------------

def jvm(cp, jopts, args, out_json, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # later -X/-D flags win over the root build's: a 3 GB heap and
    # temp files (spill, streaming checkpoints) inside the work dir
    cmd = (["java"] + jopts + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp),
                               "perfbench.Main"] + args + ["--out", out_json])
    if os.path.exists(out_json):
        os.remove(out_json)
    with open(os.path.join(WORK, "jvm.log"), "a") as logf:
        cmd += ["--spawn-ns", str(time.time_ns())]
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=logf, stderr=logf,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness JVM killed at the run's time limit (see {WORK}/jvm.log)")
    if rc != 0 or not os.path.exists(out_json):
        fail(f"harness JVM failed rc={rc} (see {WORK}/jvm.log)")
    with open(out_json) as fh:
        return json.load(fh)


# ---- metrics ---------------------------------------------------------------

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(res, passes, setup):
    """Metrics of the given passes: per-op medians across passes, then
    the 50th/90th percentile over the workload's ops."""
    ops = [o for o in res["ops"] if o["pass"] in passes]
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["seconds"])
    meds = [statistics.median(v) for v in by.values()]
    secs = [res["passes"][p]["seconds"] for p in passes]
    return {
        "setup_s": setup,
        "pass_s": statistics.median(secs),
        "op_p50_s": quantile(meds, 0.5),
        "op_p90_s": quantile(meds, 0.9),
        "items_per_s": res["items_per_pass"] / statistics.median(secs),
    }


def checks(workload, res, seed):
    """Every output check of the run, as {name: passed}. A check named
    like an op (a finance_mix query) judges every run of that op."""
    ok = {c["name"]: c["ok"] for c in res["checks"]}
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check FAILED {c['name']}: {c['detail']}")
    if workload == "finance_mix":
        dumped = [n for n, passed in ok.items() if passed]
        for n in oracle.compare(os.path.join(WORK, "fixture"), os.path.join(WORK, "finance_dumps"),
                                os.path.join(WORK, "finance_oracles.json"), dumped, log):
            ok[n] = False
    if workload == "corpus_pipeline":
        ok["corpus_record"] = corpus_record(res["corpus_record"], seed)
    return ok


def corpus_record(got, seed):
    """Per-stage row counts and the final digest must equal the values
    perfbench/expected_corpus.json records for the seed's replica."""
    variant = gen.corpus_variant(seed)
    with open(os.path.join(HERE, "expected_corpus.json")) as fh:
        want = json.load(fh).get(str(variant))
    if got != want:
        log(f"corpus record differs for replica {variant} (seed {seed}): got {got} want {want}")
        return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to perfbench/; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)  # the JVMs halt without cleanup
    open(os.path.join(WORK, "jvm.log"), "w").close()
    cp, jopts = build()
    paths = gen.ensure(WORK, a.workload, a.seed)
    deadline = time.time() + RUN_LIMIT

    args = ["--workload", a.workload, "--work", WORK, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    for k, v in paths.items():
        args += [f"--{k}", v]
    res = jvm(cp, jopts, args, os.path.join(WORK, "result.json"), deadline)
    setup = res["setup"]["setup_s"]

    ok = checks(a.workload, res, a.seed)
    # an op fails if it threw or its output failed its check; checks
    # that are not ops count once each
    failed_ops = sorted({o["name"] for o in res["ops"] if not o["ok"] or not ok.get(o["name"], True)})
    other = [n for n in ok if n not in {o["name"] for o in res["ops"]}]
    attempted = len(res["ops"]) + len(other)
    failed = (sum(1 for o in res["ops"] if o["name"] in failed_ops)
              + sum(1 for n in other if not ok[n]))
    log(f"ops={len(res['ops'])} passes={len(res['passes'])} checks={len(ok)} failed={failed} "
        f"failing={failed_ops + [n for n in other if not ok[n]]}")

    n = len(res["passes"])
    if a.trace == 0:
        metrics = end_to_end(res, list(range(n)), setup)
        units = END_TO_END
    else:
        # the first (traced) pass gives the layers; the passes after it
        # give the tracing overhead
        untraced = end_to_end(res, [i for i in range(1, n) if not res["passes"][i]["traced"]], setup)
        traced = end_to_end(res, [i for i in range(1, n) if res["passes"][i]["traced"]], setup)
        metrics = dict(res["layers"])
        metrics["session.build_s"] = res["setup"]["session.build_s"]
        metrics["session.register_s"] = res["setup"]["session.register_s"]
        metrics["session.warmup_s"] = res["warmup_s"]
        metrics["operators.pinned_mb"] = metrics["operators.pinned_bytes"] / 1048576.0
        metrics["trace.overhead_frac"] = traced["pass_s"] / untraced["pass_s"] - 1.0
        units = PER_LAYER
        write_trace(a, res, untraced, traced)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "setup_s": setup,
               "failed_frac": failed / attempted, "passes": res["passes"],
               "pinned_mb_per_pass": [p["pinned_bytes"] / 1048576.0 for p in res["passes"]],
               "rows_read_per_pass": [p["rows_read"] for p in res["passes"]],
               "warmup_s": res["warmup_s"], "checks": res["checks"],
               "op_seconds": [[o["name"], o["pass"], o["seconds"]] for o in res["ops"]],
               "corpus_record": res.get("corpus_record")}
    with open(os.path.join(WORK, f"last_{a.workload}.json"), "w") as fh:
        json.dump({"summary": summary, "result": out}, fh, indent=1)
    print(json.dumps(out))


def write_trace(a, res, untraced, traced):
    """The traced run's artifact: per-op breakdown, shape counts (and
    whether they repeat those of the previous traced run of the same
    workload and seed), and the tracing overhead."""
    tdir = os.path.join(WORK, "trace")
    os.makedirs(tdir, exist_ok=True)
    path = os.path.join(tdir, f"{a.workload}_seed{a.seed}.json")
    repeat = None
    if os.path.exists(path):
        with open(path) as fh:
            repeat = json.load(fh)["shapes"] == res["shapes"]
        if not repeat:
            log("shape counts differ from the previous traced run of this workload and seed")
    art = {
        "workload": a.workload, "seed": a.seed,
        "end_to_end_untraced": untraced, "end_to_end_traced": traced,
        "overhead": {k: traced[k] - untraced[k] for k in untraced},
        "passes": res["passes"],
        "shapes_repeat_previous_run": repeat,
        "layers": res["layers"], "shapes": res["shapes"], "per_op": res["per_op"],
        "checks": res["checks"],
    }
    art.update({k: res[k] for k in ("micro_batches_fed", "corpus_record") if k in res})
    with open(path, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    log(f"trace artifact: {path}")


if __name__ == "__main__":
    main()
