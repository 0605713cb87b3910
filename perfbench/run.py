#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the harness with sbt (offline) into ``.bench_build/``; later runs
reuse the build while the sources are unchanged. The run starts one JVM
(``perfbench.Main``) that sets up, runs the timed region and records every
operation; this script then checks every output, computes the metrics and
prints, as the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. Workload parameters live in ``workloads.json``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    paths = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            paths.append(os.path.join(base, name))
        for dirpath, dirnames, filenames in os.walk(os.path.join(base, "src", "main")):
            dirnames.sort()
            paths.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine and harness; return the runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            env["SBT_OPTS"] += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # Keep sbt's scratch files (server sockets, temp) inside the checkout.
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += (f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}"
                        " -XX:-UsePerfData -Xmx2g")
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=840)
        log.write(proc.stdout)
    cps = [ln.strip() for ln in proc.stdout.splitlines()
           if ln.startswith(HERE) and ".jar" in ln]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def jvm_args(name, spec, seed, seconds, trace, work, dump=0):
    args = ["--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", os.path.join(HERE, "data"), "--work", work,
            "--hard-stop-s", str(spec["hard_stop_s"])]
    if name == "queries":
        args += ["--panel", ",".join(spec["panel"]),
                 "--op-timeout-s", str(spec["op_timeout_s"]), "--dump", str(dump)]
    else:
        args += ["--rate", str(spec["rate_per_s"]), "--clients", str(spec["clients"]),
                 "--mix", ",".join(f"{k}:{v}" for k, v in spec["mix"].items()),
                 "--max-docs", str(spec["max_docs"]),
                 "--identity-min-docs", str(spec["identity_min_docs"]),
                 "--cancel-share", str(spec["cancel_share"]),
                 "--cancel-delay-ms", str(spec["cancel_delay_ms"]),
                 "--poll-ms", str(spec["poll_ms"]),
                 "--spill-bytes", str(spec["spill_bytes"])]
    return args


def run_jvm(name, spec, seed, seconds, trace, cp, dump=0):
    """One JVM run; returns (result record, trace events, work dir)."""
    work = os.path.join(BUILD_DIR, "runs", f"{name}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"]
    cmd += jvm_args(name, spec, seed, seconds, trace, work, dump)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload JVM ended with {code}")
    with open(result_path) as f:
        result = json.load(f)
    events = []
    if trace:
        with open(os.path.join(work, "trace.jsonl")) as f:
            events = [json.loads(line) for line in f]
    return result, events, work


def check(name, result):
    """Mark every query whose result differs from its committed,
    oracle-checked fingerprint as failed. (Gateway results are checked in
    the JVM against the reference MapReduce.)"""
    if name != "queries":
        return
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        expected = json.load(f)
    for o in result["ops"]:
        if not o["ok"]:
            continue
        want = expected.get(o["key"])
        got = {"rows": o["rows"], "digest": o["digest"]}
        if want is None:
            o["ok"], o["error"] = False, "no committed fingerprint"
        elif {"rows": want["rows"], "digest": want["digest"]} != got:
            o["ok"], o["error"] = False, f"result {got} != committed {want}"


def measure(name, seed, seconds, trace):
    """Build, run and check one workload; returns (result, events)."""
    spec_all = load_spec()
    if name not in spec_all["workloads"]:
        fail(f"unknown workload {name}; have {sorted(spec_all['workloads'])}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"{ROOT} is not an engine source checkout (no src/main/scala/graft)")
    spec = spec_all["workloads"][name]
    cp = build()
    result, events, work = run_jvm(name, spec, seed, seconds, trace, cp)
    check(name, result)
    shutil.rmtree(work, ignore_errors=True)
    return result, events, spec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    result, events, spec = measure(a.workload, a.seed, a.seconds, a.trace)
    attempted, failed, e2e = metrics.end_to_end(result, spec)
    for o in result["ops"]:
        if not o["ok"]:
            print(f"FAILED op {o['op']} {o['key']}: {o.get('error')}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = metrics.layer_metrics(result, events)[0] if a.trace else e2e
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
