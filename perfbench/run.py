#!/usr/bin/env python3
"""bdtspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload events_stream --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt into .bench_build/. Each run starts from an
empty work directory, runs the workload in one JVM (see
src/main/scala/perfbench/Main.scala), checks every op's output and prints one
JSON object as its last stdout line: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. `--record` rewrites the expected
digests of the declared ops from the current code.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_digests.json")
WORKLOADS = ("events_stream", "cli_files")
# the JVMs of a run end within this many seconds of the build's end
RUN_TIMEOUT_S = 170
# fresh JVMs that only start a session, besides the workload's own JVM
SESSION_PROBES = 1
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
CLI_KINDS = ("view", "schema", "count", "query", "query_output", "view-parquet-meta",
             "compare", "convert", "describe", "compact", "schema-diff")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark distribution whose jars the program compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark distribution (a directory with jars/)")
    return home


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program plus the harness, unless the sources are unchanged."""
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = sources_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def java(classes, work, main_args, name, deadline):
    """Run one harness JVM in `work` and return its result file, parsed."""
    result = os.path.join(work, f"{name}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: the JIT reaches steady code within the cold pass, and no C2
    # compiler threads compete with the four task threads during timed passes
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Xmx2g", "-Xmn256m", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false", "-cp", f"{classes}:{spark_home()}/jars/*",
              "graft.perfbench.Main", "--work", work, "--result", result] + main_args)
    with open(os.path.join(work, f"{name}.out"), "w") as out, \
            open(os.path.join(work, f"{name}.err"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{name} did not finish within {RUN_TIMEOUT_S} s of the build")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, f"{name}.err")) as f:
            tail = f.read()[-2000:]
        fail(f"{name} JVM exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def session_starts(classes, work, deadline):
    """Cold session start, once in each of SESSION_PROBES fresh JVMs."""
    return [java(classes, work, ["--session-only"], f"session{i}", deadline)["session_start_s"]
            for i in range(SESSION_PROBES)]


def run_jvm(classes, workload, seed, seconds, trace, work, deadline, inputs=None):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--fixtures", FIXTURES]
    return java(classes, work, args + (["--inputs", inputs] if inputs else []), "result",
                deadline)


def check_samples(res, manifest, in_dir, work):
    """(attempted, failed, problems) over every timed op execution."""
    expected = {}
    if manifest is None:
        with open(EXPECTED) as f:
            expected = json.load(f)
    commands = {c["id"]: c for c in (manifest or {}).get("commands", [])}
    problems = []
    for s in res["samples"]:
        if s["error"]:
            probs = [s["error"]]
        elif manifest is None:
            want = expected.get(s["op"])
            probs = [] if s["output"] == want else [f"digest {s['output']} != expected {want}"]
        else:
            c = commands[s["op"]]
            out_dir = os.path.join(work, "out", f"p{s['pass']}")
            probs = checks.check_command(c["kind"], c["args"], s["output"], s["exit"],
                                         manifest, in_dir, out_dir)
        if probs:
            problems.append((s["pass"], s["op"], probs))
    # the traced run's artifact probe reads each artifact through its consumer ops
    for op, digest in res["probe_digests"].items():
        if digest != expected.get(op):
            problems.append(("probe", op, [f"digest {digest} != expected {expected.get(op)}"]))
    return len(res["samples"]) + len(res["probe_digests"]), len(problems), problems


def end_to_end(res, probe_sessions, gen_s):
    plain = [s for s in res["samples"] if not s["traced"]]
    passes = [p["seconds"] for p in res["passes"] if not p["traced"]]
    pct, tail_v, n = checks.tail([s["seconds"] for s in plain])
    session = checks.median([res["session_start_s"]] + probe_sessions)
    metrics = {
        "setup_s": (gen_s + session + checks.median(res["setup_s"]) + res["cold_pass_s"], "s"),
        "session_start_s": (session, "s"),
        "wall_s": (checks.median(passes), "s"),
        "op_p50_s": (checks.op_median([(s["op"], s["seconds"]) for s in plain]), "s"),
        "op_tail_s": (tail_v, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    note = (f"op_tail_s is p{pct} over {n} op samples; wall_s is the median of "
            f"{len(passes)} passes; session_start_s the median of "
            f"{1 + len(probe_sessions)} JVMs; cold pass {res['cold_pass_s']:.3f} s")
    return metrics, note


def per_layer(res, workload, manifest):
    traced = [s for s in res["samples"] if s["traced"]]
    n_passes = max(1, len({s["pass"] for s in traced}))
    layers = res["layers"]
    m, na = {}, []

    def avg_layer(key):
        return sum(p.get(key, 0.0) for p in layers) / max(1, len(layers))

    cli = manifest is not None
    kinds = {c["id"]: c["kind"] for c in (manifest or {}).get("commands", [])}
    for k in CLI_KINDS:
        xs = [s["seconds"] for s in traced if kinds.get(s["op"]) == k]
        m[f"cli.{k}_s"] = checks.median(xs) if xs else 0.0
    probes = res["probes"]
    for fmt in ("parquet", "csv", "json", "avro"):
        m[f"sources.read_s.{fmt}"] = probes.get(f"sources.read_s.{fmt}", 0.0)
        m[f"sources.read_jobs.{fmt}"] = probes.get(f"sources.read_jobs.{fmt}", 0.0)
    files = probes.get("sources.distinct_files", 0.0)
    m["sources.reads_per_file"] = avg_layer("sources.jobs") / files if files else 0.0
    for k in ("operators.convert_write_s", "operators.convert_bytes_written",
              "operators.compare_rows_per_s"):
        m[k] = probes.get(k, 0.0)
    m["operators.bytes_written_per_input_byte"] = res["bytes_written_per_input_byte"]
    if not cli:
        na += [k for k in m if k.startswith(("cli.", "sources.", "operators."))]

    m["tables.resolve_jobs"] = avg_layer("tables.resolve_jobs")
    m["tables.resolve_s"] = avg_layer("tables.resolve_s")
    m["tables.t_ms"] = probes.get("tables.t_ms", 0.0)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        m[f"tables.t_ms.{t}"] = probes.get(f"tables.t_ms.{t}", 0.0)
    if cli:
        na += [k for k in m if k.startswith("tables.")]

    m["queries.build_s"] = sum(s["build_s"] for s in traced) / n_passes
    m["queries.action_s"] = sum(s["action_s"] for s in traced) / n_passes
    for k in ("queries.artifact_build_s", "queries.artifact_readout_s",
              "queries.artifact_reads_per_build"):
        m[k] = probes.get(k, 0.0)
    if cli:
        na += [k for k in m if k.startswith("queries.")]

    for k in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
              "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.task_wait_s",
              "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
              "exec.input_bytes", "streaming.batches", "streaming.trigger_s",
              "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.add_batch_s",
              "streaming.state_rows"):
        m[k] = avg_layer(k)
    if workload != "events_stream":
        na += [k for k in m if k.startswith("streaming.")]

    for k in ("cosine_sim", "sq_dist", "md5_pair", "rolling_hash", "jaccard",
              "minhash_signature"):
        m[f"functions.{k}_ns_per_row"] = probes.get(f"functions.{k}_ns_per_row", 0.0)
    if cli:
        na += [k for k in m if k.startswith("functions.")]

    plain = [p["seconds"] for p in res["passes"] if not p["traced"]]
    tpass = [p["seconds"] for p in res["passes"] if p["traced"]]
    m["jvm.gc_s"] = res["gc_s"]
    m["host.steal_ticks"] = float(res["steal_ticks"])
    m["trace.overhead_s"] = checks.median(tpass) - checks.median(plain)
    return m, na


def unit_of(name):
    if name.startswith(("exec.jobs", "exec.stages", "exec.tasks", "tables.resolve_jobs",
                        "sources.read_jobs", "streaming.batches", "streaming.state_rows")):
        return "count"
    if name in ("sources.reads_per_file", "queries.artifact_reads_per_build",
                "operators.bytes_written_per_input_byte"):
        return "ratio"
    if name == "host.steal_ticks":
        return "ticks"
    if name.startswith("tables.t_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ns_per_row"):
        return "ns/row"
    if name.endswith("_rows_per_s"):
        return "rows/s"
    return "s"


def record(classes, work, deadline):
    """Rewrite the expected digests: every events_stream op, read in each
    warm and timed pass, where all reads must agree, and each artifact
    consumer, read once by the traced run's probe."""
    res = run_jvm(classes, "events_stream", 0, 0, 1, work, deadline)
    digests = {}
    for s in res["warm"] + res["samples"]:
        if s["error"]:
            fail(f"{s['op']} failed: {s['error']}")
        if digests.setdefault(s["op"], s["output"]) != s["output"]:
            fail(f"{s['op']} digest varies: {digests[s['op']]} vs {s['output']}")
    digests.update(res["probe_digests"])
    with open(EXPECTED, "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")
    print(f"recorded {len(digests)} digests to {EXPECTED}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (a.record or a.workload):
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a bdtspark checkout: src/main/scala/graft is missing")

    spark_home()
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(BUILD, "work")
    # same starting state every run: no inputs, outputs or spark state survive
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.record:
        record(classes, work, deadline)
        return

    manifest, inputs, gen_s = None, None, 0.0
    probe_sessions = [] if a.trace else session_starts(classes, work, deadline)
    if a.workload == "cli_files":
        t = time.monotonic()
        inputs = os.path.join(work, "inputs")
        manifest = gen.generate(FIXTURES, inputs, a.seed)
        gen_s = time.monotonic() - t
    res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, work, deadline, inputs)
    in_dir = None
    if manifest is not None:
        in_dir = os.path.join(work, f"rep{len(res['setup_s'])}", "in")
    attempted, failed, problems = check_samples(res, manifest, in_dir, work)
    for pass_no, op, probs in problems[:20]:
        print(f"FAILED pass {pass_no} {op}: {'; '.join(probs)}")

    if a.trace:
        values, na = per_layer(res, a.workload, manifest)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
        if na:
            print("not applicable on " + a.workload + " (reported as 0): " + " ".join(na))
        with open(os.path.join(work, "result.json.trace.json")) as f:
            n_spans = len(json.load(f))
        print(f"trace: {n_spans} spans in .bench_build/work/result.json.trace.json")
    else:
        values, note = end_to_end(res, probe_sessions, gen_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
        print(note)
    print(f"noise: gc {res['gc_s']:.3f} s, steal {res['steal_ticks']} ticks; "
          f"failed_frac {failed / attempted:.4f}; input generation {gen_s:.3f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
