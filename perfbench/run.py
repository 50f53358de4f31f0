#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (``perfbench/build.sbt``); later runs reuse the build
while the sources are unchanged. The inputs are generated from the seed
into ``.bench_build/``, the harness runs the workload in one JVM on a
``local[N]`` Spark session (N = min(4, available cores)) and the outputs
are checked against the oracle in ``oracle.py``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics with ``--trace 1``). The line
before it reports every metric the workload produces, with its unit, and
every output check.

``--corrupt`` drops one row of each checked output before comparing, to
show the checks fail on wrong output.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen_corpus  # noqa: E402
import gen_stations  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
TMP = os.path.join(WORK, "tmp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 165

# Input sizes of every workload; the seed only changes the contents.
SIZES = {
    "station_etl": dict(batches=6, rows_per_batch=10000, seed_stations=4000),
    "corpus_dedup": dict(base_docs=660, base_vectors=1200, queries=100),
    "nightly_fold": dict(base_docs=300, base_vectors=10, queries=1),
}
# Tiny sizes for the smoke test (selfcheck.py --smoke).
SMOKE_SIZES = {
    "station_etl": dict(batches=6, rows_per_batch=300, seed_stations=100),
    "corpus_dedup": dict(base_docs=100, base_vectors=100, queries=10),
    "nightly_fold": dict(base_docs=60, base_vectors=10, queries=1),
}

UNITS = {
    "setup_s": "s", "run_s": "s", "rows_per_s": "1/s", "op_p50_s": "s",
    "op_samples": "count", "retract_p50_s": "s", "retract_samples": "count",
    "fail_ratio": "ratio", "oracle_mismatches": "count",
    "peak_rss_mb": "MB", "write_amp": "ratio",
    "state_bytes_per_input_byte": "ratio", "recall_at_10": "ratio",
    "pair_recall": "ratio",
}


def unit(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("ratio", "_util", "_skew", "_yield")):
        return "ratio"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(BENCH, "src", "**", "*.scala"),
                             recursive=True) +
                   [os.path.join(BENCH, "build.sbt"),
                    os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness unless the sources are built."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    digest = source_digest()
    if (os.path.exists(cp_file) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        return open(cp_file).read().strip()
    os.makedirs(TMP, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in env.get("SBT_OPTS", "") and os.path.exists(repos):
        # resolve from the local repositories only, as the repository's
        # own build does
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                           f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    # sbt's temporary files (server socket, file watcher, JNA) stay in
    # the checkout
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={TMP}"
                       f" -Djna.tmpdir={TMP} -Dsbt.server.autostart=false"
                       " -XX:-UsePerfData")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "writeClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env,
            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (rc {rc}), see {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def generate(workload, seed, sizes):
    """Writes the seed's inputs once; generation is never timed."""
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    shutil.rmtree(d, ignore_errors=True)
    if workload == "station_etl":
        gen_stations.generate(d, seed, **sizes)
    else:
        gen_corpus.generate(d, seed, **sizes)
    return d


JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={TMP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def harness(cp, workload, inputs, out, seconds, trace, cores):
    """Runs the harness JVM and waits for it; returns its result.json."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(TMP, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        "-cp", cp, "perfbench.Main", "--workload", workload,
        "--inputs", inputs, "--out", out, "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores)]
    log = os.path.join(WORK, f"{workload}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} timed out after {JVM_TIMEOUT_S} s, see {log}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        fail(f"{workload} failed (rc {rc}), see {log}")
    return json.load(open(res))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops and waits for the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}: run from a checkout root")
    if not os.path.exists(SPEC):
        fail("BENCHMARK.json missing: run from a checkout root")
    spec = json.load(open(SPEC))

    cp = build()
    inputs = generate(a.workload, a.seed,
                      (SMOKE_SIZES if a.smoke else SIZES)[a.workload])
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    out = os.path.join(WORK, "runs", a.workload)
    spans = None
    try:
        res = harness(cp, a.workload, inputs, out, a.seconds, a.trace, cores)
        checks, scores = oracle.CHECKS[a.workload](inputs, res, a.corrupt)
        if a.trace:
            spans = os.path.join(WORK, "spans", f"{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"), spans)
    finally:
        for d in (out, inputs):
            shutil.rmtree(d, ignore_errors=True)

    e2e = dict(res["end_to_end"])
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    mismatches = sum(1 for ok, _ in checks.values() if not ok)
    e2e["fail_ratio"] = failed / attempted
    e2e["oracle_mismatches"] = mismatches
    e2e.update({k: v for k, v in scores.items() if k in UNITS})
    layer = dict(res["per_layer"])
    if "op.dedup_rows_in" in layer:
        layer["op.dedup_keep_ratio"] = (layer["op.dedup_rows_out"] /
                                        layer["op.dedup_rows_in"])
    if "ext.candidate_pairs" in layer:
        layer["ext.pair_yield"] = (layer["ext.verified_pairs"] /
                                   max(layer["ext.candidate_pairs"], 1))

    shown = layer if a.trace else e2e
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "rounds": res["rounds"], "round_s": res["round_s"],
        "samples_s": res["samples_s"],
        "end_to_end": {k: {"value": v, "unit": unit(k)} for k, v in e2e.items()},
        "per_layer": {k: {"value": v, "unit": unit(k)} for k, v in layer.items()},
        "checks": {k: {"passed": ok, "detail": d}
                   for k, (ok, d) in checks.items()},
        "scores": scores, "spans": spans}))
    names = spec["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({
        "correct": mismatches == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": shown[m["name"]], "unit": m["unit"]}
                    for m in names}}))


if __name__ == "__main__":
    main()
