#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the library
and the harness from source with sbt (offline); later runs reuse the
build. Each run then:

  1. generates the corpus, the request stream and the refresh versions from
     the seed (gen.py) into a fresh directory under .bench_build/;
  2. runs the harness in one JVM at local[4]: a cold set-up and one warm
     pass, then a closed loop of single requests, in whole rounds, until S
     seconds of busy time have passed;
  3. checks the cold and the warm result of every (query, data version)
     against the DuckDB oracle (outcheck.py), outside the timed window;
  4. prints each metric by name and unit, the check verdict, and as its
     last line one JSON object: correct, attempted, failed and metrics
     (the end-to-end metrics, or with --trace 1 the per-layer metrics).

The full result, and with --trace 1 the spans, are kept under
.bench_build/results/ for layerdiff.py and selftime.py.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

HEAP = "2g"
BUILD_TIMEOUT_S = 780
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(*paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, fs in os.walk(top):
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the library and the harness; return the runtime classpath."""
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(lib)):
        fail(f"no graft sources next to {HERE} (need build.sbt and src/main/scala)")
    cp_file = os.path.join(BUILD, "classpath.txt")
    sources = newest_mtime(lib, os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "src"),
                           os.path.join(HERE, "build.sbt"))
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= sources:
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if not ln.startswith("[") and ".jar" in ln]
    if not cps:
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    print(f"built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cps[-1]


def run_jvm(cp, plan, corpus, work, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is capped but grows as the run needs it, so that resident
    # memory follows what the library uses
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", "--plan", plan, "--corpus", corpus,
              "--work", work, "--seconds", str(seconds), "--trace", str(trace)])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "a timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def main(argv):
    import gen

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)

    cp = build()
    import outcheck  # needs the repository's tools/check.py
    import report
    import stats
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan, corpus, files, versions = gen.prepare(a.seed, a.workload, work)
        h = run_jvm(cp, plan, corpus, work, a.seconds, a.trace)
        if h["window"]["stream_exhausted"]:
            fail("the request stream ran out before the window ended")
        oracle_files = {(t, 0): p for t, p in files.items()}
        oracle_files.update(versions)
        verdicts = outcheck.check(h["dumps"], h["oracle"], oracle_files)
        spans = []
        if a.trace:
            import selftime
            spans = selftime.load_spans(os.path.join(work, "spans.jsonl"))
        corpus_bytes = sum(os.path.getsize(p) for p in files.values())
        e2e = report.end_to_end(h, corpus_bytes)
        layers = report.per_layer(h, verdicts, spans) if a.trace else {}
        calls = report.request_verdicts(h, verdicts)
        attempted = len(calls)
        failed = sum(1 for _, ok in calls if not ok)
        bad = {k: v for k, v in verdicts.items() if not v["ok"]}
        correct = attempted > 0 and failed == 0 and not bad

        for k, (v, unit) in list(e2e.items()) + list(layers.items()):
            print(f"{k:<28} {v:>16.4f} {unit}")
        tail = stats.tail_percentile(attempted)
        print(f"requests: {attempted} in {h['window']['rounds']} round(s); error rate "
              f"{failed / max(attempted, 1):.4f}; highest percentile with ten samples "
              f"beyond it: {f'p{tail:g}' if tail else 'none'}; peak resident memory "
              f"{h['stored']['peak_rss_mb']:.1f} MB")
        print(f"check: {len(verdicts) - len(bad)}/{len(verdicts)} (query, version, pass) results "
              f"match the oracle; {failed}/{attempted} requests failed or wrong")
        for (q, key, p), v in sorted(bad.items()):
            print(f"  FAIL {q} [{key}, {p}]: {v.get('error', '')}{' (stale)' if v['stale'] else ''}")

        shown = layers if a.trace else e2e
        result = {
            "workload": a.workload, "seed": a.seed, "trace": bool(a.trace),
            "seconds": a.seconds, "correct": correct, "attempted": attempted,
            "failed": failed,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
            "check": {f"{q}@{key}#{p}": v for (q, key, p), v in sorted(verdicts.items())},
            "setup": h["setup"], "window": h["window"], "refreshes": h["refreshes"],
            "calls": [{k: r[k] for k in ("query", "version", "ms", "construct_ms", "ok")}
                      for r, _ in calls],
        }
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{name}.json"), "w") as f:
            json.dump(result, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(results, f"{name}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
