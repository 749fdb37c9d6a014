#!/usr/bin/env python3
"""UMLS -> Turtle export benchmark.

Builds the export (the repo's root sbt project) together with this
directory's sbt package once per checkout, generates a release-shaped RRF
corpus from the seed, and runs ``UmlsPipeline.run()`` over it in fresh JVMs,
one export at a time (a closed loop with one client), for ``--seconds``
seconds. Every export's Turtle files go through the correctness gate.

    python3 perfbench/run.py --workload one_big --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs one traced
export (``perfbench.TraceRun``) and prints the per-layer metrics. The last
stdout line is the JSON result; the lines before it are a readable table
and the host record. Exit status: 0 when every check passed, 1 when the
gate failed, 2 when the checkout cannot be benchmarked, 3 when the build
failed.

Everything the benchmark writes lives under ``.bench_build/perfbench`` in
the checkout (and the sbt ``target`` directories).
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
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import corpus  # noqa: E402

BIG_ATOMS = 200000     # MRCONSO rows of the big SAB (one_big's manifest)
TAIL_ATOMS = 9600      # MRCONSO rows over the other SABs (sweep's manifest)
SETUP_SAMPLES = 3      # set-up samples per run (export JVMs + set-up probes)
RUN_LIMIT_S = 170      # a run (after the build) ends within this
BASE_URI = "http://purl.bioontology.org/ontology/"
MB = 1024.0 * 1024.0
JAVA_OPTS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx3g", "-Dspark.sql.session.timeZone=UTC"]
WORKLOADS = ("one_big", "sweep")  # each exports the corpus's <name>.conf
# Build inputs: a change to any of these rebuilds before the next run.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]
REQUIRED = ["build.sbt", "src/main/scala/graft/pipeline/UmlsPipeline.scala"]


class BenchError(Exception):
    def __init__(self, msg, code):
        super().__init__(msg)
        self.code = code


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def tree_digest(root, rels):
    """sha256 over (relative path, bytes) of every file under ``rels``."""
    h = hashlib.sha256()
    for rel in rels:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            h.update(b"\0")
            h.update(sha256_file(f).encode())
    return h.hexdigest()


# ---------------------------------------------------------------- build

def build(work):
    """Compile once per checkout state; return the runtime classpath and the
    fingerprint of the build inputs."""
    fp = tree_digest(ROOT, [p for p in BUILD_INPUTS
                            if os.path.exists(os.path.join(ROOT, p))])
    stamp, cp_file = os.path.join(work, "build.json"), \
        os.path.join(work, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if json.load(f).get("fingerprint") == fp:
                with open(cp_file) as c:
                    return c.read(), fp
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt not found on PATH", 3)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building (sbt perfbench/writeClasspath) ...")
    t0 = time.time()
    build_log = os.path.join(work, "build.log")
    with open(build_log, "w") as out:
        try:
            rc = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true",
                 "perfbench/writeClasspath"], cwd=HERE, env=env,
                stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT,
                timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(build_log) as f:
            log("".join(f.readlines()[-40:]))
        raise BenchError("build failed (rc=%s), log: %s" % (rc, build_log), 3)
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = ":".join(l.strip() for l in f if l.strip())
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "build_s": time.time() - t0}, f)
    log("[perfbench] built in %.0f s" % (time.time() - t0))
    return cp, fp


# ---------------------------------------------------------------- corpus

def ensure_corpus(work, seed, keep=3):
    """The corpus for ``seed``, generated outside every timed process and
    reused by later runs with the same seed."""
    with open(os.path.join(HERE, "corpus.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:10]
    base = os.path.join(work, "corpus")
    path = os.path.join(base, "%d-%d-%d-%s" % (BIG_ATOMS, TAIL_ATOMS, seed,
                                               gen))
    if not os.path.exists(os.path.join(path, "facts.json")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        corpus.generate(tmp, seed, BIG_ATOMS, TAIL_ATOMS)
        os.rename(tmp, path)
    os.utime(path)
    olds = sorted((d for d in os.listdir(base) if not d.endswith(".tmp")),
                  key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for d in olds[:-keep]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    with open(os.path.join(path, "facts.json")) as f:
        return path, json.load(f)


# ---------------------------------------------------------------- JVMs

class Jvm:
    def __init__(self, work, cp):
        self.work, self.cp = work, cp
        self.deadline = time.time() + RUN_LIMIT_S
        self.tmp = os.path.join(work, "tmp")
        shutil.rmtree(os.path.join(work, "logs"), ignore_errors=True)
        self.cwd = os.path.join(work, "cwd")
        self.n = 0
        for d in (self.tmp, self.cwd):
            os.makedirs(d, exist_ok=True)

    def run(self, main, args):
        """Run ``main`` in a fresh JVM; return (launch epoch, last stdout
        JSON line). stderr goes to a per-process log file. The JVM is
        killed at the run's deadline."""
        self.n += 1
        err = os.path.join(self.work, "logs", "%d-%s-%d.err" % (
            os.getpid(), main.split(".")[-1], self.n))
        os.makedirs(os.path.dirname(err), exist_ok=True)
        cmd = ["java"] + JAVA_OPTS + [
            "-Dspark.local.dir=" + self.tmp, "-Djava.io.tmpdir=" + self.tmp,
            "-cp", self.cp, main] + list(args)
        launch = time.time()
        with open(err, "w") as e:
            p = subprocess.run(cmd, cwd=self.cwd, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, stderr=e, text=True,
                               timeout=max(1.0, self.deadline - launch))
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            raise RuntimeError("%s exited %d (log %s)" % (
                main, p.returncode, err))
        return launch, json.loads(lines[-1])


# ---------------------------------------------------------------- gate

def escape(s):
    return s.replace("\\", "\\\\").replace('"', '\\"')


def check_sab(sab, fact, report, path, expected_sha):
    """Problems with one SAB's export; empty when it matches the planted
    facts and the expected digest. Returns (problems, sha256)."""
    problems = []
    if report is None or report.get("skipped"):
        return ["no report"], None
    if report["terms"] != fact["terms"]:
        problems.append("terms %d != planted %d" % (report["terms"],
                                                    fact["terms"]))
    if report["errors"] != fact["errors"]:
        problems.append("errors %d != planted %d" % (report["errors"],
                                                     fact["errors"]))
    if not os.path.exists(path) or os.path.getsize(path) == 0:
        return problems + ["output missing or empty"], None
    with open(path, "rb") as f:
        data = f.read()
    sha = hashlib.sha256(data).hexdigest()
    text = data.decode("utf-8")
    ns = BASE_URI + sab + "/"
    classes = sum(1 for l in text.split("\n")
                  if l.startswith("<" + ns) and l.endswith("> a owl:Class ;"))
    if classes != fact["terms"]:
        problems.append("%d classes in file != planted %d" % (
            classes, fact["terms"]))
    for code, label in sorted(fact["samples"].items()):
        want = '<%s%s> a owl:Class ;\n\tskos:prefLabel """%s"""@en ;\n' % (
            ns, urllib.parse.quote(code), escape(label))
        if want not in text:
            problems.append("prefLabel of %s is not %r" % (code, label))
    if expected_sha is not None and sha != expected_sha:
        problems.append("sha256 %s != expected %s" % (sha[:12],
                                                      expected_sha[:12]))
    return problems, sha


class Gate:
    """Checks exports against the planted facts and the corpus's expected
    per-SAB digests (``digests.json`` beside the corpus, recorded by the
    first export of each SAB that passes the other checks). The digests
    outlive a build: when several commits run in one checkout, each must
    write the bytes the first one wrote."""

    def __init__(self, corpus_dir, facts):
        self.facts = facts
        self.digest_file = os.path.join(corpus_dir, "digests.json")
        self.digests = {}
        if os.path.exists(self.digest_file):
            with open(self.digest_file) as f:
                self.digests = json.load(f)
        self.attempted = self.failed = 0
        self.problems = []

    def check(self, sabs, reports, out_dir):
        by_sab = {r["sab"]: r for r in reports}
        for sab in sabs:
            self.attempted += 1
            path = os.path.join(out_dir, sab + ".ttl")
            probs, sha = check_sab(sab, self.facts["sabs"][sab],
                                   by_sab.get(sab), path,
                                   self.digests.get(sab))
            if probs:
                self.failed += 1
                self.problems.append("%s: %s" % (sab, "; ".join(probs)))
            elif sab not in self.digests:
                self.digests[sab] = sha
                with open(self.digest_file, "w") as f:
                    json.dump(self.digests, f, indent=1, sort_keys=True)

    def fail_all(self, sabs, why):
        self.attempted += len(sabs)
        self.failed += len(sabs)
        self.problems.append(why)


# ---------------------------------------------------------------- host

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    return {"iowait": vals[4] / tick, "steal": vals[7] / tick}


class Host:
    """Host record of one run: nproc, 1-minute load at the start, and the
    steal and iowait seconds (summed over CPUs) during the run."""

    def __init__(self):
        self.nproc = os.cpu_count()
        self.load1 = os.getloadavg()[0]
        self.t0 = cpu_times()

    def record(self):
        t1 = cpu_times()
        return {"nproc": self.nproc, "load1_start": round(self.load1, 2),
                "steal_s": round(t1["steal"] - self.t0["steal"], 2),
                "iowait_s": round(t1["iowait"] - self.t0["iowait"], 2)}


# ---------------------------------------------------------------- runs

class Bench:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".bench_build", "perfbench")
        os.makedirs(self.work, exist_ok=True)
        self.cp, self.fingerprint = build(self.work)
        self.jvm = Jvm(self.work, self.cp)
        self.corpus, self.facts = ensure_corpus(self.work, args.seed)
        self.gate = Gate(self.corpus, self.facts)
        self.conf = os.path.join(self.corpus, args.workload + ".conf")
        self.sabs = self.facts["manifests"][args.workload]
        self.rows = sum(self.facts["sabs"][s]["mrconso_rows"]
                        for s in self.sabs)
        self.outs = 0

    def export(self):
        """One untraced export in a fresh JVM, gated. Returns its sample."""
        self.outs += 1
        out = os.path.join(self.work, "out", str(self.outs))
        shutil.rmtree(out, ignore_errors=True)
        try:
            launch, r = self.jvm.run("perfbench.ExportRun", [
                self.corpus, self.conf, out, corpus.VERSION])
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            self.gate.fail_all(self.sabs, "export failed: %s" % e)
            return None
        self.gate.check(self.sabs, r["reports"], out)
        shutil.rmtree(out, ignore_errors=True)
        return {"setup_s": r["ready_epoch_s"] - launch,
                "export_s": r["export_s"], "cpu_s": r["cpu_s"],
                "peak_rss_mb": r["peak_rss_mb"]}

    def timed(self):
        samples, t0 = [], time.time()
        while True:
            s = self.export()
            if s:
                samples.append(s)
            if time.time() - t0 >= self.args.seconds:
                break
        setups = [s["setup_s"] for s in samples]
        while len(setups) < SETUP_SAMPLES:
            launch, r = self.jvm.run("perfbench.SetupProbe", [])
            setups.append(r["ready_epoch_s"] - launch)
        self.save_baseline([s["export_s"] for s in samples])
        if not samples:
            return {}, {}
        med = lambda k: statistics.median(s[k] for s in samples)  # noqa
        return {
            "setup_s": (statistics.median(setups), "s"),
            "export_s": (med("export_s"), "s"),
            "atoms_per_s": (statistics.median(
                self.rows / s["export_s"] for s in samples), "atoms/s"),
            "cpu_s": (med("cpu_s"), "s"),
        }, {"exports": len(samples), "setups": [round(x, 3) for x in setups],
            "export_s": [round(s["export_s"], 3) for s in samples],
            "peak_rss_mb": [round(s["peak_rss_mb"], 1) for s in samples]}

    def baseline_file(self):
        """Untraced export times of this workload on this build, the
        denominator of `trace.overhead_ratio`."""
        return os.path.join(self.work, "baseline-%s-%s.json" % (
            self.args.workload, self.fingerprint[:16]))

    def save_baseline(self, xs):
        old = self.load_baseline()
        with open(self.baseline_file(), "w") as f:
            json.dump((old + xs)[-20:], f)

    def load_baseline(self):
        try:
            with open(self.baseline_file()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return []

    def traced(self):
        base = self.load_baseline()
        if not base:
            s = self.export()
            base = [s["export_s"]] if s else []
        out = os.path.join(self.work, "out", "trace")
        shutil.rmtree(out, ignore_errors=True)
        spans_file = os.path.join(self.work, "spans-%s.json" %
                                  self.args.workload)
        try:
            self.jvm.run("perfbench.TraceRun", [
                self.corpus, self.conf, out, corpus.VERSION, spans_file])
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            self.gate.fail_all(self.sabs * 3, "traced export failed: %s" % e)
            return {}, {}
        with open(spans_file) as f:
            trace = json.load(f)
        reports = trace["reports"]
        for phase in ("full_cold", "layers", "full_warm"):
            self.gate.check(self.sabs, reports, os.path.join(out, phase))
        ttl_bytes = sum(os.path.getsize(
            os.path.join(out, "full_cold", s + ".ttl")) for s in self.sabs)
        shutil.rmtree(out, ignore_errors=True)
        rrf_bytes = sum(os.path.getsize(os.path.join(self.corpus, f))
                        for f in os.listdir(self.corpus) if f.endswith(".RRF"))
        return layer_metrics(trace["spans"], reports, ttl_bytes, rrf_bytes,
                             statistics.median(base) if base else None)


def layer_metrics(spans, reports, ttl_bytes, rrf_bytes, untraced_export_s):
    """Per-layer metrics from the traced run's spans.

    A SAB's layers are nested prefixes of its write (p1 scan, p2 assemble,
    p3 render, p4 full write), timed one SAB at a time; a layer's self time
    is its prefix minus the one before. The MRDOC pivot counts to assemble
    and the semantic types to render. The warm path is the mean of the two
    warm replays around the layers phase; `pipeline.overhead_s` is the
    part of it outside the per-SAB writes, semantic types and MRDOC pivot.

    The self times telescope: with the overhead they sum to the warm path
    plus (sum of p4 - the warm path's writes). `layer_sum_ratio`, that sum
    over the warm path, thus only checks that the layers phase timed its
    full writes in the warm path's state. Nested prefixes cover a write by
    construction, so no ratio can show a missing layer; a prefix that is
    not one shows as a negative self time."""
    by_id = {s["id"]: s for s in spans}
    named = lambda n: [s for s in spans if s["name"] == n]  # noqa
    dur = lambda s: s["end_s"] - s["start_s"]  # noqa
    sd = lambda ss: sum(dur(s) for s in ss)  # noqa
    tot = lambda ss, k: sum(s.get(k, 0.0) for s in ss)  # noqa

    def subtree(root):
        def inside(s):
            while s["parent"]:
                if s["parent"] == root["id"]:
                    return True
                s = by_id[s["parent"]]
            return False
        return [s for s in spans if s is root or inside(s)]

    cold, warms = named("full_cold")[0], named("full_warm")
    kids = lambda n: [s for w in warms for s in spans  # noqa
                      if s["parent"] == w["id"] and s["name"].startswith(n)]
    mean = lambda ss, f: sum(f(s) for s in ss) / len(warms)  # noqa
    writes = kids("write:")
    sty, docs = kids("semantic_types"), kids("property_docs")
    p1, p2, p3, p4 = (named(n) for n in
                      ("p1_scan", "p2_assemble", "p3_render", "p4_write"))
    warm_s, writes_s = mean(warms, dur), mean(writes, dur)
    sty_s, docs_s = mean(sty, dur), mean(docs, dur)
    path = subtree(warms[-1])
    classes = sum(r["terms"] + r["errors"] for r in reports)
    m = {}
    m["sources.self_s"] = (sd(p1), "s")
    m["sources.rows_parsed"] = (tot(p1, "input_records"), "count")
    m["sources.read_amplification"] = (tot(path, "input_bytes") / rrf_bytes,
                                       "ratio")
    m["assemble.self_s"] = (sd(p2) - sd(p1) + docs_s, "s")
    m["assemble.cpu_s"] = (tot(p2, "cpu_s") - tot(p1, "cpu_s")
                           + mean(docs, lambda s: s["cpu_s"]), "s")
    m["assemble.shuffle_mb"] = ((tot(p2, "shuffle_write_bytes")
                                 - tot(p1, "shuffle_write_bytes")) / MB, "MB")
    m["assemble.max_task_s"] = (max(s["max_task_s"] for s in p2), "s")
    m["assemble.classes"] = (classes, "count")
    render_s = sd(p3) - sd(p2) + sty_s
    m["render.self_s"] = (render_s, "s")
    m["render.cpu_s"] = (tot(p3, "cpu_s") - tot(p2, "cpu_s")
                         + mean(sty, lambda s: s["cpu_s"]), "s")
    m["render.terms_per_s"] = (classes / render_s, "1/s")
    m["render.ttl_mb"] = (ttl_bytes / MB, "MB")
    sink_s = sd(p4) - sd(p3)
    m["sink.self_s"] = (sink_s, "s")
    m["sink.cut_mb"] = (tot(p4, "new_cached_bytes") / MB, "MB")
    m["sink.sort_shuffle_mb"] = ((tot(p4, "shuffle_write_bytes")
                                  - tot(p3, "shuffle_write_bytes")) / MB, "MB")
    m["sink.mb_per_s"] = (ttl_bytes / MB / sink_s, "MB/s")
    m["pipeline.overhead_s"] = (warm_s - writes_s - sty_s - docs_s, "s")
    m["pipeline.jobs"] = (tot(path, "jobs"), "count")
    m["pipeline.tasks"] = (tot(path, "tasks"), "count")
    sab_s = {}  # per SAB, its mean write time over the warm replays
    for s in writes:
        sab = s["name"][6:]
        sab_s[sab] = sab_s.get(sab, 0.0) + dur(s) / len(warms)
    m["pipeline.sab_s.p50"] = (statistics.median(sab_s.values()), "s")
    m["pipeline.sab_s.max"] = (max(sab_s.values()), "s")
    m["jvm.gc_s"] = (cold.get("jvm_gc_s", 0.0), "s")
    m["jvm.jit_s"] = (cold.get("jvm_jit_s", 0.0), "s")
    layer_sum = sum(m[k][0] for k in ("sources.self_s", "assemble.self_s",
                                      "render.self_s", "sink.self_s",
                                      "pipeline.overhead_s"))
    m["trace.cold_s"] = (dur(cold), "s")
    m["trace.warm_s"] = (warm_s, "s")
    m["trace.overhead_ratio"] = (
        dur(cold) / untraced_export_s if untraced_export_s else 0.0, "ratio")
    info = {"layer_sum_ratio": round(layer_sum / warm_s, 4),
            "assemble.spill_mb": round((tot(p2, "spill_bytes")
                                        - tot(p1, "spill_bytes")) / MB, 3),
            "sab_write_s": {k: round(v, 3) for k, v in sab_s.items()},
            "sab_p4_s": {by_id[s["parent"]]["name"][4:]: round(dur(s), 3)
                         for s in p4},
            "untraced_export_s": untraced_export_s}
    return m, info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log("[perfbench] not a checkout of the export: missing %s" %
            ", ".join(missing))
        return 2
    host = Host()
    try:
        bench = Bench(args)
        metrics, info = bench.traced() if args.trace else bench.timed()
    except BenchError as e:
        log("[perfbench] %s" % e)
        return e.code
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log("[perfbench] %s" % e)
        return 1
    gate = bench.gate
    hrec = host.record()
    correct = gate.failed == 0 and bool(metrics)
    for p in gate.problems:
        log("[perfbench] GATE: %s" % p)
    ratio = gate.failed / gate.attempted if gate.attempted else 1.0
    print("workload %s  seed %d  atoms %d  SAB exports %d  failed %d" % (
        args.workload, args.seed, bench.rows, gate.attempted, gate.failed))
    for name, (value, unit) in metrics.items():
        print("  %-28s %14.4f %s" % (name, value, unit))
    print("  %-28s %14.4f %s" % ("sab_fail_ratio", ratio, "ratio"))
    print("host " + json.dumps(hrec))
    print("detail " + json.dumps(info))
    with open(os.path.join(bench.work, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"time": time.time(), "workload": args.workload,
                            "seed": args.seed, "trace": args.trace,
                            "host": hrec, "detail": info,
                            "sab_fail_ratio": ratio,
                            "metrics": {k: v[0] for k, v in metrics.items()}})
                + "\n")
    print(json.dumps({
        "correct": correct, "attempted": max(1, gate.attempted),
        "failed": gate.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
