#!/usr/bin/env python3
"""graft's benchmark: builds graft and the harness from source, makes the
workload's inputs from the seed, runs one workload in a fresh JVM on
local[4], checks its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload <release|query_mix|stream> \\
        --seed <n> --seconds <s> --trace <0|1> [--out FILE] [--inject KIND:NAME]
    python3 perfbench/run.py --check [--seed <n>] [--seconds <s>]
    python3 perfbench/run.py --record DIR [--pairs <n>] [--seed <n>]

Run it from the root of a checkout. Everything a run makes (inputs,
TSV sinks, checkpoints, Spark's local dirs) lives under `.bench_tmp/` and
is removed when the run ends; the build lives under `.bench_build/`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("release", "query_mix", "stream")
END_TO_END = ("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s")
QUERY_SF = 0.1
JVM_TIMEOUT_S = 150
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


START = time.time()


def log(msg):
    print(f"[perfbench {time.time() - START:6.1f} s] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every input of the build, to skip rebuilding unchanged code."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names) if n.endswith(".scala")]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile graft with the harness once per source state; the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        sys.exit("perfbench: build failed")
    cp = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")][-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def draw_queries():
    """The recorded stratified draw (see pools.json for why it is fixed)."""
    return json.load(open(os.path.join(HERE, "pools.json")))["query_mix"]["draw"]


class Run:
    """One JVM run of one workload inside a private temp directory."""

    def __init__(self, args):
        self.args = args
        self.tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
        self.proc = None
        self.mismatches = 0

    def cleanup(self):
        if self.proc is not None and self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()
        shutil.rmtree(self.tmp, ignore_errors=True)
        parent = os.path.dirname(self.tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def jvm(self, cp, extra):
        work = os.path.join(self.tmp, "work")
        os.makedirs(work, exist_ok=True)
        cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}",
               f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
        for p in JAVA_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        a = self.args
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work] + extra
        log_path = os.path.join(self.tmp, "jvm.log")
        with open(log_path, "w") as err:
            self.proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                         stderr=err, text=True, start_new_session=True)
            try:
                out, _ = self.proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
                sys.exit(f"perfbench: the JVM did not finish in {JVM_TIMEOUT_S} s")
        line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH ")), None)
        with open(log_path) as fh:
            notes = [l for l in fh if l.startswith("[perfbench ")]
        sys.stderr.write("".join("  jvm " + l for l in notes))
        if self.proc.returncode != 0 or line is None:
            lines = [l for l in open(log_path) if not l.startswith(("\tat ", "\t..."))]
            sys.stderr.write("".join(lines[-40:]))
            sys.exit(f"perfbench: the JVM failed (exit {self.proc.returncode})")
        return json.loads(line[len("PERFBENCH "):]), work

    def oracle(self, data, check_dir):
        """DuckDB oracle over the same inputs; the names that differ."""
        if not os.path.exists(os.path.join(check_dir, "oracle_sql.json")):
            return []
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            data, check_dir], capture_output=True, text=True,
                           stdin=subprocess.DEVNULL)
        bad = [l.split(":")[0].split()[1] for l in r.stdout.splitlines()
               if l.startswith("FAIL")]
        if r.returncode != 0 and not bad:
            sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
            bad = ["oracle check did not run"]
        return bad

    def execute(self, cp):
        a = self.args
        extra, data, setup_extra = [], "", 0.0
        if a.inject:
            extra += ["--inject", a.inject]
        if a.workload == "query_mix":
            data = os.path.join(self.tmp, "data")
            os.makedirs(data)
            t0 = time.perf_counter()
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.generate(data, QUERY_SF, a.seed)
            setup_extra = time.perf_counter() - t0
            draw = draw_queries()
            extra += ["--data", data, "--draw", ",".join(draw)]
        log(f"{a.workload}: inputs ready, starting the JVM")
        res, work = self.jvm(cp, extra)
        log(f"{a.workload}: JVM done, checking outputs")
        mismatches = list(res["mismatches"])
        if a.workload == "query_mix":
            mismatches += [f"oracle {q}" for q in self.oracle(data, os.path.join(work, "check"))]
        if a.workload == "release":
            mismatches += release_rows_check(res, os.path.join(work, "fixture"))
        log(f"{a.workload}: checked")
        for name, msg in res["failures"].items():
            log(f"FAILED {name}: {msg}")
        for m in mismatches:
            log(f"MISMATCH {m}")
        metrics = res["layer"] if a.trace else res["metrics"]
        if not a.trace:
            metrics["setup_s"]["value"] += setup_extra
            missing = [m for m in END_TO_END if m not in metrics]
            if missing:
                sys.exit(f"perfbench: missing metrics {missing}")
            metrics = {m: metrics[m] for m in END_TO_END}
        failed = res["failed"]
        result = {"correct": not mismatches, "attempted": max(res["attempted"], 1),
                  "failed": failed, "metrics": metrics}
        if a.out:
            spans = os.path.join(work, "spans.json")
            record = dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds,
                          trace=a.trace, end_to_end=res["metrics"], info=res["info"],
                          spans=json.load(open(spans)) if os.path.exists(spans) else None)
            with open(a.out, "w") as fh:
                json.dump(record, fh, indent=1)
        self.mismatches = len(mismatches)
        return result


RELEASE_FILES = {"mutation_data": "mutation.tsv", "cna_data": "cna.tsv"}


def release_rows_check(res, fixture):
    """Every provider row of a molecular file must reach its target's TSVs once."""
    bad = []
    for target, name in RELEASE_FILES.items():
        written = res["info"].get(f"rows.{target}")
        if written is None:
            continue
        expected = 0
        for prov in sorted(os.listdir(fixture)):
            f = os.path.join(fixture, prov, name)
            if os.path.exists(f):
                with open(f) as fh:
                    expected += sum(1 for _ in fh) - 1
        if int(written) != expected:
            bad.append(f"{target}: {written} rows written, {expected} provider rows")
    return bad


def one(args, cp):
    """Run one workload; its result line and its number of output mismatches."""
    run = Run(args)
    try:
        return run.execute(cp), run.mismatches
    finally:
        run.cleanup()


def record(args, cp):
    """--pairs alternating untraced and traced runs per workload, same seed:
    the last traced run's per-layer metrics and spans, and the tracing
    overhead of every pair as traced minus untraced end-to-end figures,
    written to --record DIR."""
    os.makedirs(args.record, exist_ok=True)
    for w in [args.workload] if args.workload else WORKLOADS:
        pairs = []
        for _ in range(args.pairs):
            runs = {}
            for trace in (0, 1):
                a = argparse.Namespace(**vars(args))
                a.workload, a.trace = w, trace
                a.out = os.path.join(args.record, f".{w}.{trace}.json")
                one(a, cp)
                runs[trace] = json.load(open(a.out))
                os.remove(a.out)
            pairs.append(runs)
        overhead = {}
        for m in END_TO_END:
            u = [p[0]["end_to_end"][m]["value"] for p in pairs]
            t = [p[1]["end_to_end"][m]["value"] for p in pairs]
            shares = [(y - x) / x for x, y in zip(u, t)]
            overhead[m] = {"untraced": u, "traced": t, "share": shares,
                           "share_median": statistics.median(shares)}
        blocking = []
        for p in pairs:
            spans = p[1]["spans"]
            per_sample = spans["blocking_self_s"] / max(spans["samples"], 1)
            blocking.append(per_sample / float(p[0]["info"]["sample_mean_s"]) - 1)
        plain, traced = pairs[-1][0], pairs[-1][1]
        doc = {"workload": w, "seed": args.seed, "seconds": args.seconds,
               "pairs": args.pairs,
               "per_layer": traced["metrics"],
               "tracing_overhead": overhead,
               "blocking_path": {
                   "share": blocking,
                   "note": "per pair: the traced run's sum over its samples of every "
                           "span's self time plus the Spark-job time each span waited "
                           "on, per sample, against the untraced run's mean sample "
                           "wall time, minus 1"},
               "spans": traced["spans"]["spans"],
               "traced_info": traced["info"], "untraced_info": plain["info"]}
        with open(os.path.join(args.record, f"{w}.json"), "w") as fh:
            json.dump(doc, fh, indent=1)
        print(f"{w}: recorded (tracing overhead on latency_p50_ms, median of "
              f"{args.pairs} pairs: {overhead['latency_p50_ms']['share_median']:+.1%})")
    return 0


def check(args, cp):
    """Every workload once: each end-to-end metric by name and unit, the
    error rate and the oracle mismatches; non-zero exit on any failure."""
    bad = False
    for w in WORKLOADS:
        a = argparse.Namespace(**vars(args))
        a.workload, a.trace, a.out = w, 0, None
        r, mismatches = one(a, cp)
        print(f"== {w} (seed {a.seed})")
        for k, v in r["metrics"].items():
            print(f"  {k:<20} {v['value']:.6g} {v['unit']}")
        print(f"  {'error_rate':<20} {r['failed'] / r['attempted']:.6g} ratio")
        print(f"  {'oracle_mismatches':<20} {mismatches} count")
        bad |= r["failed"] > 0 or not r["correct"]
    return 1 if bad else 0


def stop(*_):
    """On a signal: exit through the cleanup, ignoring repeats of it."""
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, signal.SIG_IGN)
    sys.exit(1)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="also write the run's record (and spans) here")
    p.add_argument("--inject", help="failure drill: build:<query> or write:<query>")
    p.add_argument("--check", action="store_true")
    p.add_argument("--record", metavar="DIR",
                   help="write a traced+untraced record per workload to DIR")
    p.add_argument("--pairs", type=int, default=2,
                   help="with --record: untraced+traced pairs per workload")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a graft checkout")
    if not (args.check or args.record) and not args.workload:
        p.error("--workload is required")
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop)
    cp = build()
    if args.check:
        sys.exit(check(args, cp))
    if args.record:
        sys.exit(record(args, cp))
    r, _ = one(args, cp)
    print(json.dumps(r))
    sys.exit(0 if r["correct"] and r["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
