#!/usr/bin/env python3
"""Cold/warm workload benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 60 --trace 0

One run builds the engine and this harness from source (first run only),
resets the engine's on-disk state, and starts a fresh JVM on local[nproc]:

  --trace 0  one measured JVM that sets up, then runs a cold pass and a
             warm pass over the workload's queries in the seed's order;
             prints the end-to-end metrics.
  --trace 1  one traced JVM that sets up and runs the cold pass only;
             prints the per-layer metrics of that pass and writes its
             spans to .work/last/<workload>/spans.jsonl.

A run does a fixed amount of work, so that two commits always measure
the same passes. `--seconds` is the nominal length of that work (the
longest workload's cold and warm passes take about a minute); it sizes
nothing, and a run that takes longer is reported on stderr.

Every query's output fingerprint is checked against expected.json. The
last line of stdout is one JSON object: correct, attempted, failed and
metrics. The test data directory is --data, else $PERFBENCH_DATA, else
~/testdata/sf0.1; it is only read.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import analysis  # noqa: E402

# The engine keys its /tmp state by the data directory's base name, so
# the data is reached through a link of this name.
DATA_NAME = "perfbench_sf0.1"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
MAIN_TIMEOUT_S = 150


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout
    and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise BenchError("timed out after %ds: %s" % (timeout, cmd[0]))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


# ---- build -------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile the engine and the harness with sbt (offline) unless the
    sources are unchanged since the last build; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft",
                                           "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError("engine source missing: %s" % need)
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    code, out, err = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        800, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if os.pathsep in l and ".jar" in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise BenchError("sbt build failed (exit %d)" % code)
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + lines[-1])
    return lines[-1]


# ---- state -------------------------------------------------------------

def engine_state(tmp="/tmp"):
    """The engine's write-once state for this benchmark's data: every
    entry of a `<tmp>/graft_*` directory named after the data link, as a
    subtree (`graft_sinks/perfbench_sf0.1`) or as a `_<hash>` sibling
    (`graft_derby/perfbench_sf0.1_<hash>`). The entries of other data
    directories (the tests' sf0.001, sf0.01) are not included."""
    found = []
    for root in sorted(glob.glob(os.path.join(tmp, "graft_*"))):
        if not os.path.isdir(root) or os.path.islink(root):
            continue
        for e in sorted(os.listdir(root)):
            if e == DATA_NAME or e.startswith(DATA_NAME + "_"):
                found.append(os.path.join(root, e))
    return found


def reset_state():
    """Identical starting state: empty scratch and working dirs, and none
    of the engine's state for this benchmark's data under /tmp."""
    for d in ("tmp", "cwd"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp", "java"))
    os.makedirs(os.path.join(WORK, "cwd"))
    for p in engine_state():
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)


def data_link(data):
    if not os.path.exists(os.path.join(data, "orders.parquet")):
        raise BenchError("no test data at %s" % data)
    d = os.path.join(WORK, "data")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, DATA_NAME)
    if os.path.islink(link) and os.readlink(link) != data:
        os.unlink(link)
    if not os.path.islink(link):
        os.symlink(data, link)
    return link


def heap():
    """Half of MemTotal in GB, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % min(8, max(2, g))


def cores():
    return len(os.sched_getaffinity(0))


# ---- runs --------------------------------------------------------------

def file_cache_paths(cp, data):
    """The files a harness JVM reads besides the engine's state: the
    JDK's module image, every classpath entry and the test data."""
    roots = cp.split(os.pathsep) + [os.path.realpath(data)]
    java = shutil.which("java")
    if java:
        roots.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(java))), "lib", "modules"))
    found = []
    for r in roots:
        if os.path.isfile(r):
            found.append(r)
        for d, _, files in os.walk(r):
            found.extend(os.path.join(d, f) for f in sorted(files))
    return found


def warm_file_cache(paths):
    """Read every file once, so that set-up and the cold pass never wait
    on disk reads that depend on what the host's page cache kept."""
    for p in paths:
        try:
            with open(p, "rb", buffering=0) as fh:
                while fh.read(1 << 20):
                    pass
        except OSError:
            pass


def jvm(cp, args, timeout):
    """Start one harness JVM in a fresh state and return its records."""
    reset_state()
    warm_file_cache(file_cache_paths(cp, args[args.index("--data") + 1]))
    out = os.path.join(WORK, "cwd", "records.jsonl")
    cmd = ["java", "-Xmx" + heap()] + \
        [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp", "java"),
        "-cp", cp, "perfbench.Harness", "--cores", str(cores()),
        "--out", out] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp", "java"))
    launch = ["--launch-ns", str(time.time_ns())]
    code, _, err = run_proc(cmd + launch, timeout, cwd=os.path.join(WORK, "cwd"),
                            env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(err[-4000:])
        raise BenchError("harness JVM failed (exit %d)" % code)
    with open(out) as fh:
        records = [json.loads(l) for l in fh]
    reset_state()
    return records


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get(
        "PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1")))
    a = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        raise BenchError("unknown workload %r" % a.workload)
    names = workloads[a.workload]["queries"]
    if (analysis.tail_percentile(len(names)) or 0) < 50:
        raise BenchError("%d queries leave fewer than ten samples beyond "
                         "the median" % len(names))
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    cp = classpath()
    data = data_link(os.path.abspath(a.data))
    last = os.path.join(WORK, "last", a.workload)
    os.makedirs(last, exist_ok=True)
    order = analysis.permutation(names, a.seed)
    qfile = os.path.join(WORK, "queries.txt")
    with open(qfile, "w") as fh:
        fh.write("\n".join(order) + "\n")
    main_args = ["--data", data, "--queries", qfile]

    records = jvm(cp, main_args + ["--warm", "0" if a.trace else "1",
                                   "--trace", str(a.trace)], MAIN_TIMEOUT_S)
    took = analysis.measured_s(records)
    if took > a.seconds:
        log("the passes took %.1f s, longer than --seconds %g" % (took, a.seconds))
    if a.trace == 1:
        values, spans = analysis.per_layer(records)
        with open(os.path.join(last, "spans.jsonl"), "w") as fh:
            fh.writelines(json.dumps(s) + "\n" for s in spans)
        units = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
    else:
        values = analysis.end_to_end(records)
        units = {m["name"]: m["unit"] for m in bench_spec()["end_to_end"]}

    queries = [r for r in records
               if r["k"] == "span" and r["kind"] == "query"]
    bad = analysis.check_outputs(queries, expected)
    for p, n, why in bad:
        log("FAILED %s %s: %s" % (p, n, why))
    with open(os.path.join(last, "outputs-seed%d.json" % a.seed), "w") as fh:
        json.dump([{k: q["attrs"].get(k)
                    for k in ("pass", "name", "rows", "hash", "error")}
                   for q in queries], fh)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    for k in units:
        print("%-28s %14.6g %s" % (k, values[k], units[k]))
    print(json.dumps({"correct": not bad, "attempted": len(queries),
                      "failed": len(bad), "metrics": metrics}))
    return 0


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    # a terminated run still kills and reaps its JVM (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        log("error: %s" % e)
        sys.exit(2)
