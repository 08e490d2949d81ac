#!/usr/bin/env python3
"""Run one benchmark workload against the engine checkout in the
current directory.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt when their sources changed
(cached in .bench_build/), starts one JVM for the run, checks every
output, and prints the metrics as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Every result, with its host fingerprint, is also kept under
.bench_build/results/, and a traced run's spans under
.bench_build/traces/ for rollup.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("etl_ingest", "flat_tail", "stream_gates")
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
STOREPASS = "perfbench"

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed checkout
    rebuilds and an unchanged one does not start sbt at all."""
    h = hashlib.sha1()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt if needed; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp_file = os.path.join(root, BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(root, BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if r.returncode != 0 or not cp:
        fail("build failed, see " + log)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1], stamp


def tls_stores(root):
    """A self-signed certificate for the loopback server (made once per
    checkout with keytool) and a trust store holding it."""
    d = os.path.join(root, BUILD, "tls")
    server, trust = os.path.join(d, "server.p12"), os.path.join(d, "trust.p12")
    if os.path.exists(trust):
        return server, trust
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    cert = os.path.join(d, "server.crt")
    kt = ["keytool", "-noprompt", "-storepass", STOREPASS]
    for cmd in (
        ["-genkeypair", "-alias", "perfbench", "-keyalg", "RSA", "-keysize", "2048",
         "-validity", "3650", "-dname", "CN=localhost", "-ext", "SAN=ip:127.0.0.1,dns:localhost",
         "-storetype", "PKCS12", "-keystore", server],
        ["-exportcert", "-alias", "perfbench", "-keystore", server, "-file", cert],
        ["-importcert", "-alias", "perfbench", "-storetype", "PKCS12", "-keystore", trust, "-file", cert],
    ):
        subprocess.run(kt + cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60)
    return server, trust


def driver_mem():
    """Half the machine's memory, between 2 and 8 GB, as the engine's
    tier-1 test run sizes its driver."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


E2E_UNITS = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "latency_p50_s": "s",
             "latency_tail_s": "s", "rows_per_s": "rows/s"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of an engine checkout (no build.sbt / src/main/scala/graft here)")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        fail("no fixture tables under %s (set SPARK_GRAFT_SF_DIR)" % sf_dir)
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    classpath, stamp = build(root)

    work = os.path.join(root, BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    server, trust = tls_stores(root) if a.workload == "etl_ingest" else (None, None)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + driver_mem(),
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]
    if trust:
        cmd += ["-Djavax.net.ssl.trustStore=" + trust, "-Djavax.net.ssl.trustStoreType=PKCS12",
                "-Djavax.net.ssl.trustStorePassword=" + STOREPASS]
    cmd += ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            sf_dir, work, raw_path, str(cpus)]
    if server:
        cmd += [server, STOREPASS]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=root)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s, see %s" % (RUN_TIMEOUT_S, log))
    if rc != 0 or not os.path.exists(raw_path):
        fail("JVM exited with %d, see %s" % (rc, log))
    with open(raw_path) as f:
        raw = json.load(f)

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(os.path.basename(os.path.normpath(sf_dir)), {})
    e2e, attempted, failures, details = metrics.end_to_end(raw, expected)
    host = dict(raw["host"], git_commit=git_commit(root), source_stamp=stamp)
    result = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "end_to_end": e2e, "details": details, "attempted": attempted, "failures": failures}
    if a.trace:
        spans = metrics.build_spans(raw)
        result["per_layer"] = metrics.per_layer(raw, spans)
        tdir = os.path.join(root, BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "%s-s%d.spans.json" % (a.workload, a.seed)), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "source_stamp": stamp, "spans": spans}, f)
    rdir = os.path.join(root, BUILD, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(result, f, indent=1)

    for why in failures[:20]:
        print("FAILED " + why, file=sys.stderr)
    summary = dict(e2e, peak_rss_mb=details["peak_rss_mb"], fail_share=details["fail_share"],
                   parquet_json_ratio=details["parquet_json_ratio"])
    units = dict(E2E_UNITS, peak_rss_mb="MB", fail_share="ratio", parquet_json_ratio="ratio")
    print("host " + json.dumps(host, sort_keys=True))
    print("end-to-end " + " ".join(
        "%s=%s%s" % (k, "n/a" if v is None else "%.6g" % v, "" if v is None else " " + units[k])
        for k, v in summary.items())
        + " (tail p%g, %d of %d samples beyond)" % (
            details["tail_percentile"], details["tail_beyond"], details["latency_samples"]))
    if a.trace:
        out = {k: {"value": v, "unit": metrics.unit_of(k)} for k, v in sorted(result["per_layer"].items())}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": out}))


if __name__ == "__main__":
    main()
